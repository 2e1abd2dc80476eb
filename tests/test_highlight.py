"""Highlighter unit + integration tests, mirroring the reference's
fragmenter/formatter tests (/root/reference/search/highlight/fragmenter/
simple/simple_test.go, format/html/html_test.go patterns)."""

import re

import pytest

from bleve_spark import HighlightRequest, Searcher, SearchRequest
from bleve_spark import query as Q
from bleve_spark.analysis import get_analyzer
from bleve_spark.highlight import (
    best_fragments,
    highlight_text,
    term_locations,
)


def test_term_locations_standard():
    a = get_analyzer("standard")
    text = "The quick brown Fox jumps over the lazy dog"
    locs = term_locations(text, a, {"fox", "dog"})
    assert locs == [(16, 19), (40, 43)]


def test_highlight_html_wraps_matches():
    a = get_analyzer("standard")
    text = "the quick brown fox"
    frags = highlight_text(text, a, {"fox"}, size=200)
    assert frags == ["the quick brown <mark>fox</mark>"]


def test_highlight_ansi_tags():
    a = get_analyzer("standard")
    frags = highlight_text(
        "a fox here", a, {"fox"}, pre="\x1b[43m", post="\x1b[0m"
    )
    assert frags == ["a \x1b[43mfox\x1b[0m here"]


def test_fragment_clipping_ellipses():
    a = get_analyzer("standard")
    text = ("filler " * 50) + "needle" + (" filler" * 50)
    frags = highlight_text(text, a, {"needle"}, size=40)
    assert len(frags) == 1
    assert "<mark>needle</mark>" in frags[0]
    assert frags[0].startswith("…") and frags[0].endswith("…")
    # fragment body (sans tags/ellipses) stays near the requested size
    body = frags[0].replace("<mark>", "").replace("</mark>", "").strip("…")
    assert len(body) <= 60


def test_no_match_returns_leading_fragment():
    a = get_analyzer("standard")
    frags = highlight_text("plain text with nothing", a, {"zzz"}, size=10)
    assert frags == ["plain text…"]


def test_best_fragments_non_overlapping():
    text = "x" * 1000
    locs = [(10, 15), (12, 18), (500, 510)]
    frags = best_fragments(text, locs, size=50, max_fragments=2)
    assert len(frags) == 2
    (s1, e1, _), (s2, e2, _) = frags
    assert e1 <= s2 or e2 <= s1


def test_search_with_highlight(built_index):
    s = Searcher(built_index)
    res = s.search(
        SearchRequest(
            query=Q.TermQuery(field="content", term="return"),
            size=3,
            highlight=HighlightRequest(fields=["content"]),
        )
    )
    rows = res.hits.collect()
    assert rows and "content_fragments" in res.hits.columns
    for r in rows:
        frags = r["content_fragments"]
        assert frags and any("<mark>" in f for f in frags)


# -- highlight and include_locations mark the terms the plan matched --------

_MARK = re.compile(r"<mark>(.*?)</mark>")

# name -> (query, predicate every marked index term satisfies); each shape
# matches and scores, so its hits must carry marks
PLAN_MARKED = {
    "filter_match": (
        Q.FilterQuery(
            child=Q.MatchQuery(field="content", text="apache commit"),
            predicate="lang = 'go'",
        ),
        lambda t: t in {"apache", "commit"},
    ),
    "fuzzy_match": (
        Q.MatchQuery(field="content", text="retun", fuzziness=1),
        lambda t: t == "return",
    ),
    "term_range": (
        Q.TermRangeQuery(
            field="content", min="retura", max="returz", inclusive_max=True
        ),
        lambda t: "retura" <= t <= "returz",
    ),
}


@pytest.mark.parametrize("name", list(PLAN_MARKED))
def test_highlight_marks_plan_terms(built_index, name):
    q, ok = PLAN_MARKED[name]
    res = Searcher(built_index).search(
        SearchRequest(query=q, size=3, highlight=HighlightRequest())
    )
    rows = res.hits.collect()
    assert rows and "content_fragments" in res.hits.columns
    for r in rows:
        marked = {
            m.lower() for f in r["content_fragments"] for m in _MARK.findall(f)
        }
        assert marked and all(ok(t) for t in marked), (r["_id"], marked)


@pytest.mark.parametrize("name", list(PLAN_MARKED))
def test_locations_mark_plan_terms(built_index, name):
    q, ok = PLAN_MARKED[name]
    res = Searcher(built_index).search(
        SearchRequest(
            query=q, size=3, fields=("content",), include_locations=True
        )
    )
    rows = res.hits.collect()
    assert rows
    for r in rows:
        locs = (r["locations"] or {}).get("content") or {}
        assert locs and all(ok(t) for t in locs), (r["_id"], locs.keys())
        assert all(
            r["content"][l["start"] : l["end"]].lower() == t
            for t, ls in locs.items()
            for l in ls
        )
