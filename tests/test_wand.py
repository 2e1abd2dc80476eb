"""Block-max WAND pruning must be invisible: forced-on results (ids AND
scores AND order) equal the plain exhaustive path for every candidate
query shape, in both similarity modes. Mirrors the reference's
cross-engine equivalence strategy (/root/reference/test/versus_test.go:
two execution paths, identical docs + scores)."""

import pytest

from bleve_spark import Searcher, SearchRequest
from bleve_spark import query as Q
from bleve_spark import scoring, search


def _run(index, q, similarity, wand_min):
    # WAND prunes the Spark route, so force it with a zero local gate:
    # the driver-local route would answer these small queries first
    s = Searcher(index, wand_min_postings=wand_min)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(search, "LOCAL_MAX_POSTINGS", 0)
        res = s.search(SearchRequest(query=q, size=10, similarity=similarity))
        return [(r["_id"], round(r["score"], 10)) for r in res.hits.collect()]


QUERIES = [
    Q.TermQuery(field="content", term="the"),
    Q.MatchQuery(field="content", text="return value"),
    Q.MatchQuery(field="content", text="return license", operator="and"),
    Q.ConjunctionQuery(
        conjuncts=[
            Q.TermQuery(field="content", term="the"),
            Q.TermQuery(field="content", term="return"),
        ]
    ),
    Q.DisjunctionQuery(
        disjuncts=[
            Q.TermQuery(field="content", term="license"),
            Q.TermQuery(field="content", term="copyright"),
            Q.TermQuery(field="content", term="nonexistent_zz"),
        ]
    ),
]


@pytest.mark.parametrize("similarity", [scoring.TFIDF, scoring.BM25])
@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_wand_matches_plain(built_index, similarity, qi):
    q = QUERIES[qi]
    plain = _run(built_index, q, similarity, wand_min=10**12)  # never engages
    pruned = _run(built_index, q, similarity, wand_min=0)  # always engages
    assert pruned == plain


def test_wand_engages(built_index):
    """Sanity: with the floor at 0 WAND actually prunes the plan
    search() runs for every candidate shape (otherwise the parametrized
    test proves nothing)."""
    s = Searcher(built_index, wand_min_postings=0)
    for q in QUERIES + [Q.MatchQuery(field="content", text="return")]:
        plan = s.plan(q)
        # k=1: phase 1 must find k hits, and the conjunctions are rare
        scored = s._wand_scored(plan, s._query_norm(q, plan), 1)
        assert scored is not None, q
        assert scored.count() > 0, q


def test_wand_skips_unsupported_shapes(built_index):
    s = Searcher(built_index, wand_min_postings=0)
    for q in [
        Q.MatchPhraseQuery(field="content", text="return value"),
        Q.PrefixQuery(field="content", prefix="re"),
        Q.MatchQuery(field="content", text="return", fuzziness=1),
        # a conjunction with a term absent from the dictionary is empty
        Q.MatchQuery(field="content", text="return value", operator="and"),
        Q.DisjunctionQuery(
            disjuncts=[
                Q.TermQuery(field="content", term="return"),
                Q.TermQuery(field="content", term="value"),
            ],
            min=2,
        ),
        Q.BooleanQuery(must=[Q.TermQuery(field="content", term="return")]),
    ]:
        assert s.plan(q).wand is None, q


def test_search_after_keyset(built_index):
    """Keyset paging pages through the same sequence as one big query."""
    s = Searcher(built_index)
    q = Q.TermQuery(field="content", term="return")
    full = [
        (r["_id"], r["score"])
        for r in s.search(SearchRequest(query=q, size=30)).hits.collect()
    ]
    assert len(full) > 6
    first = full[:3]
    after = s.search(
        SearchRequest(
            query=q,
            size=3,
            search_after=[first[-1][1], first[-1][0]],
        )
    )
    got = [(r["_id"], r["score"]) for r in after.hits.collect()]
    assert got == full[3:6]
