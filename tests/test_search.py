"""Integration: build a small fixture index and verify search results —
docids AND scores — against hand-computed reference formulas; mirrors the
reference's per-searcher tests (/root/reference/search/searcher/*_test.go
pattern: small fixed index, expected docid+score lists)."""

import math
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    FieldMapping,
    IndexBuilder,
    IndexMapping,
    SearchIndex,
    Searcher,
    SearchRequest,
)
from bleve_spark import query as Q
from bleve_spark import scoring

FIXTURE_DIR = "/tmp/bleve_spark_fixture_index"

# 5 docs, standard-analyzer text — analogous to searcher/base_test.go
DOCS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "quick quick quick fox"),
    ("c", "brown cow stands alone"),
    ("d", "the dog sleeps"),
    ("e", "fox and dog play together"),
]


def analyzed_len(text):
    from bleve_spark.analysis import get_analyzer

    return len(get_analyzer("standard").analyze(text))


@pytest.fixture(scope="module")
def fixture_index(spark):
    shutil.rmtree(FIXTURE_DIR, ignore_errors=True)
    mapping = IndexMapping(default_analyzer="standard")
    mapping.add(FieldMapping("body", analyzer="standard"))
    corpus = spark.createDataFrame(
        [{"_id": i, "body": t} for i, t in DOCS]
    )
    IndexBuilder(spark, mapping, FIXTURE_DIR).build(
        corpus, id_expr=F.col("_id")
    )
    return SearchIndex(spark, FIXTURE_DIR, mapping)


def expected_term_score(text, term, df, n_docs=5):
    """tf-idf by the reference formulas for one doc."""
    from bleve_spark.analysis import get_analyzer

    terms = get_analyzer("standard").terms(text)
    tf = terms.count(term)
    idf = scoring.idf(scoring.TFIDF, n_docs, df)
    return float(
        scoring.term_scores(scoring.TFIDF, [tf], [len(terms)], idf, 1.0, None, 1.0)[0]
    )


def rows(df):
    return [(r["_id"], r["score"]) for r in df.collect()]


def test_term_query_scores(fixture_index):
    s = Searcher(fixture_index)
    res = s.search(SearchRequest(query=Q.TermQuery(field="body", term="fox")))
    got = rows(res.hits)
    # fox appears in a, b, e; df=3
    exp = {
        _id: expected_term_score(text, "fox", 3)
        for _id, text in DOCS
        if "fox" in text
    }
    assert {g[0] for g in got} == set(exp)
    for _id, score in got:
        assert score == pytest.approx(exp[_id], rel=1e-12)
    # ordering: score desc, then _id asc
    scores = [g[1] for g in got]
    assert scores == sorted(scores, reverse=True)


def test_conjunction_query_norm(fixture_index):
    s = Searcher(fixture_index)
    q = Q.ConjunctionQuery(
        conjuncts=[
            Q.TermQuery(field="body", term="fox"),
            Q.TermQuery(field="body", term="dog"),
        ]
    )
    res = s.search(SearchRequest(query=q))
    got = dict(rows(res.hits))
    # docs with both fox and dog: a, e
    assert set(got) == {"a", "e"}
    idf_fox = scoring.idf(scoring.TFIDF, 5, 3)
    idf_dog = scoring.idf(scoring.TFIDF, 5, 3)
    qn = 1.0 / math.sqrt(idf_fox**2 + idf_dog**2)
    for _id, text in DOCS:
        if _id not in got:
            continue
        e = expected_term_score(text, "fox", 3) * idf_fox * qn
        e += expected_term_score(text, "dog", 3) * idf_dog * qn
        assert got[_id] == pytest.approx(e, rel=1e-12)


def test_disjunction_coord(fixture_index):
    s = Searcher(fixture_index)
    q = Q.DisjunctionQuery(
        disjuncts=[
            Q.TermQuery(field="body", term="cow"),
            Q.TermQuery(field="body", term="fox"),
        ]
    )
    res = s.search(SearchRequest(query=q, size=10))
    got = dict(rows(res.hits))
    assert set(got) == {"a", "b", "c", "e"}
    idf_cow = scoring.idf(scoring.TFIDF, 5, 1)
    idf_fox = scoring.idf(scoring.TFIDF, 5, 3)
    qn = 1.0 / math.sqrt(idf_cow**2 + idf_fox**2)
    # doc c matches only cow: coord 1/2
    e_c = expected_term_score(DOCS[2][1], "cow", 1) * idf_cow * qn * (1 / 2)
    assert got["c"] == pytest.approx(e_c, rel=1e-12)


def test_boolean_must_not(fixture_index):
    s = Searcher(fixture_index)
    q = Q.BooleanQuery(
        must=[Q.TermQuery(field="body", term="fox")],
        must_not=[Q.TermQuery(field="body", term="lazy")],
    )
    res = s.search(SearchRequest(query=q))
    assert {r[0] for r in rows(res.hits)} == {"b", "e"}


def test_match_query_analyzes(fixture_index):
    s = Searcher(fixture_index)
    res = s.search(
        SearchRequest(
            query=Q.MatchQuery(field="body", text="The Quick FOX", operator="and")
        )
    )
    # analyzed -> [quick, fox]; docs with both: a, b
    assert {r[0] for r in rows(res.hits)} == {"a", "b"}


def test_phrase_query(fixture_index):
    s = Searcher(fixture_index)
    res = s.search(
        SearchRequest(query=Q.MatchPhraseQuery(field="body", text="brown fox"))
    )
    assert {r[0] for r in rows(res.hits)} == {"a"}
    # stop-gap phrase: "jumps over the lazy dog" -> positions keep gaps
    res2 = s.search(
        SearchRequest(
            query=Q.MatchPhraseQuery(field="body", text="jumps over the lazy dog")
        )
    )
    assert {r[0] for r in rows(res2.hits)} == {"a"}
    # non-adjacent terms do not match as phrase
    res3 = s.search(
        SearchRequest(query=Q.MatchPhraseQuery(field="body", text="fox dog"))
    )
    assert rows(res3.hits) == []


def test_repeated_term_phrase(fixture_index):
    s = Searcher(fixture_index)
    res = s.search(
        SearchRequest(query=Q.MatchPhraseQuery(field="body", text="quick quick"))
    )
    assert {r[0] for r in rows(res.hits)} == {"b"}


def test_prefix_wildcard_regexp_fuzzy(fixture_index):
    s = Searcher(fixture_index)
    assert {
        r[0]
        for r in rows(
            s.search(SearchRequest(query=Q.PrefixQuery(field="body", prefix="qu"))).hits
        )
    } == {"a", "b"}
    assert {
        r[0]
        for r in rows(
            s.search(
                SearchRequest(query=Q.WildcardQuery(field="body", wildcard="f?x"))
            ).hits
        )
    } == {"a", "b", "e"}
    assert {
        r[0]
        for r in rows(
            s.search(
                SearchRequest(query=Q.RegexpQuery(field="body", regexp="do.*"))
            ).hits
        )
    } == {"a", "d", "e"}
    assert {
        r[0]
        for r in rows(
            s.search(
                SearchRequest(
                    query=Q.FuzzyQuery(field="body", term="fux", fuzziness=1)
                )
            ).hits
        )
    } == {"a", "b", "e"}


def test_too_many_clauses_guard(fixture_index):
    """Clause-count guard parity (ref: search_multi_term.go:96-98,
    search_disjunction.go:105-115); default 0 = unlimited like the
    reference (search_disjunction.go:28)."""
    from bleve_spark import search as search_mod
    from bleve_spark import TooManyClausesError

    s = Searcher(fixture_index)
    old = search_mod.DisjunctionMaxClauseCount
    search_mod.DisjunctionMaxClauseCount = 1
    try:
        with pytest.raises(TooManyClausesError) as e:
            s.search(
                SearchRequest(query=Q.PrefixQuery(field="body", prefix=""))
            )
        assert "maxClauseCount" in str(e.value)
    finally:
        search_mod.DisjunctionMaxClauseCount = old
    # unlimited again: query plans fine
    res = s.search(SearchRequest(query=Q.PrefixQuery(field="body", prefix="qu")))
    assert len(rows(res.hits)) == 2


def test_filter_query(fixture_index):
    """FilteringSearcher analogue (ref: searcher/search_filter.go):
    wrap any query with a predicate over stored fields."""
    s = Searcher(fixture_index)
    q = Q.FilterQuery(
        child=Q.TermQuery(field="body", term="fox"),
        predicate="_id != 'b'",
    )
    got = rows(s.search(SearchRequest(query=q)).hits)
    assert {g[0] for g in got} == {"a", "e"}
    # scores unchanged by the filter (reference passes child scores)
    unfiltered = dict(
        rows(
            s.search(
                SearchRequest(query=Q.TermQuery(field="body", term="fox"))
            ).hits
        )
    )
    for _id, score in got:
        assert score == pytest.approx(unfiltered[_id], rel=1e-12)
    # wire format
    from bleve_spark import parse_query

    q2 = parse_query(
        {"query": {"term": "fox", "field": "body"}, "filter": "_id = 'a'"}
    )
    got2 = rows(s.search(SearchRequest(query=q2)).hits)
    assert [g[0] for g in got2] == ["a"]


@pytest.mark.parametrize("similarity", [scoring.TFIDF, scoring.BM25])
def test_filter_keeps_child_query_norm(built_index, similarity):
    """A filter never scores (ref: searcher/search_filter.go), so a
    filtered doc scores what the child alone gives it — queryNorm
    included."""
    s = Searcher(built_index)
    child = Q.MatchQuery(field="content", text="apache commit")

    def scores(q):
        req = SearchRequest(query=q, size=300, similarity=similarity)
        return {r["_id"]: r["score"] for r in s.search(req).hits.collect()}

    alone = scores(child)
    got = scores(Q.FilterQuery(child=child, predicate="lang = 'go'"))
    assert got and set(got) < set(alone)
    for _id, score in got.items():
        assert score == pytest.approx(alone[_id], rel=1e-12), _id


def test_ipv6_range_query(spark):
    """IPv6 (and v4-mapped) CIDR containment via 16-byte binary compare
    (ref stores 16-byte IP terms, query/ip_range.go)."""
    import shutil as sh

    from bleve_spark import IndexBuilder, IndexMapping, FieldMapping, SearchIndex

    path = "/tmp/bleve_spark_ipv6_test_index"
    sh.rmtree(path, ignore_errors=True)
    m = IndexMapping(default_analyzer="keyword", compose_all=False)
    m.add(FieldMapping("name", analyzer="keyword"))
    corpus = spark.createDataFrame(
        [
            ("a", "2001:db8::1"),
            ("b", "2001:db8::ffff"),
            ("c", "2001:db9::1"),
            ("d", "10.0.0.7"),
        ],
        ["name", "addr"],
    )
    IndexBuilder(spark, m, path).build(corpus, id_expr=F.col("name"))
    s = Searcher(SearchIndex(spark, path, m))

    def ids(cidr):
        res = s.search(
            SearchRequest(query=Q.IPRangeQuery(field="addr", cidr=cidr))
        )
        return sorted(r[0] for r in rows(res.hits))

    assert ids("2001:db8::/32") == ["a", "b"]
    assert ids("2001:db8::1") == ["a"]  # bare v6 address = /128
    # v4 addresses live in the v4-mapped range ::ffff:0:0/96
    assert ids("::ffff:10.0.0.0/104") == ["d"]


def test_slop_phrase_out_of_order(fixture_index):
    """findPhrasePaths allows reversed-order positions within the slop
    budget (ref: search_phrase.go:420-427 — dist=|prevPos+1 - pos| is
    charged, never rejected for going backwards)."""
    s = Searcher(fixture_index)
    # doc c = "brown cow stands alone"; phrase [cow, brown] reversed:
    # cow@2, brown@1 -> want = 2+1 = 3, dev = |1-3| = 2 -> slop 2 matches
    res = s.search(
        SearchRequest(
            query=Q.PhraseQuery(field="body", terms=["cow", "brown"], slop=2)
        )
    )
    assert {r[0] for r in rows(res.hits)} == {"c"}
    # slop 1 is not enough for the reversal
    res2 = s.search(
        SearchRequest(
            query=Q.PhraseQuery(field="body", terms=["cow", "brown"], slop=1)
        )
    )
    assert rows(res2.hits) == []
    # a location cannot be reused for two slots (ref :429-433): doc d =
    # "the dog sleeps" has one "dog"; [dog, dog] cannot match at any slop
    res3 = s.search(
        SearchRequest(
            query=Q.PhraseQuery(field="body", terms=["dog", "dog"], slop=3)
        )
    )
    assert "d" not in {r[0] for r in rows(res3.hits)}


def test_overlapping_range_facets(fixture_index):
    """Every matching range increments (ref: facet_builder_numeric.go
    UpdateVisitor), not just the first in declaration order."""
    from bleve_spark.search import FacetRequest

    s = Searcher(fixture_index)
    res = s.search(
        SearchRequest(
            query=Q.MatchAllQuery(),
            facets={
                "len": FacetRequest(
                    field="docid",
                    numeric_ranges=[
                        {"name": "low", "min": 0, "max": 3},
                        {"name": "all", "min": 0, "max": 100},
                    ],
                )
            },
        )
    )
    counts = {r["range"]: r["count"] for r in res.facets["len"].collect()}
    assert counts["all"] == 5  # every doc, despite "low" also matching
    assert counts["low"] == 3


def test_match_all_and_docid(fixture_index):
    s = Searcher(fixture_index)
    assert (
        len(rows(s.search(SearchRequest(query=Q.MatchAllQuery())).hits)) == 5
    )
    assert {
        r[0]
        for r in rows(
            s.search(SearchRequest(query=Q.DocIDQuery(ids=["a", "c"]))).hits
        )
    } == {"a", "c"}


def test_bm25_mode(fixture_index):
    s = Searcher(fixture_index)
    res = s.search(
        SearchRequest(
            query=Q.TermQuery(field="body", term="quick"),
            similarity=scoring.BM25,
        )
    )
    got = dict(rows(res.hits))
    assert set(got) == {"a", "b"}
    n, df = 5, 2
    idf = scoring.idf(scoring.BM25, n, df)
    avg_len = float(
        np.mean([analyzed_len(t) for _, t in DOCS])
    )
    for _id, text in DOCS:
        if _id not in got:
            continue
        from bleve_spark.analysis import get_analyzer

        terms = get_analyzer("standard").terms(text)
        e = scoring.term_scores(
            scoring.BM25, [terms.count("quick")], [len(terms)], idf, 1.0, None,
            avg_len,
        )[0]
        assert got[_id] == pytest.approx(e, rel=1e-9)
    # b has tf=3 and is shorter -> must outrank a
    assert got["b"] > got["a"]


def test_knn_request_merges_with_query(spark):
    """KNN hits disjunction-merge with the text query
    (ref: search_knn.go:42-49,165)."""
    import shutil as sh

    from bleve_spark import (
        FieldMapping,
        IndexBuilder,
        IndexMapping,
        SearchIndex,
        Searcher,
        SearchRequest,
    )
    from bleve_spark.search import KNNRequest
    from bleve_spark import query as Qm

    path = "/tmp/bleve_spark_knn_test_index"
    sh.rmtree(path, ignore_errors=True)
    m = IndexMapping(default_analyzer="standard", compose_all=True)
    m.add(FieldMapping("body"))
    corpus = spark.createDataFrame(
        [
            ("a", "alpha doc", [1.0, 0.0, 0.0]),
            ("b", "beta doc", [0.9, 0.1, 0.0]),
            ("c", "gamma doc", [0.0, 1.0, 0.0]),
        ],
        ["id", "body", "embedding"],
    )
    IndexBuilder(spark, m, path).build(corpus, id_expr=F.col("id"))
    idx = SearchIndex(spark, path, m)

    # pure knn (match_none base): nearest two to [1,0,0]
    res = Searcher(idx).search(
        SearchRequest(
            query=Qm.MatchNoneQuery(),
            knn=[KNNRequest(field="embedding", vector=[1.0, 0.0, 0.0], k=2)],
            with_total=True,
        )
    )
    got = [(r["_id"], round(r["score"], 4)) for r in res.hits.collect()]
    assert [g[0] for g in got] == ["a", "b"]
    assert got[0][1] == pytest.approx(1.0, abs=1e-4)
    assert res.total == 2

    # knn merged with a term query: doc c matches text, a/b match knn
    res2 = Searcher(idx).search(
        SearchRequest(
            query=Qm.TermQuery(field="body", term="gamma"),
            knn=[KNNRequest(field="embedding", vector=[1.0, 0.0, 0.0], k=1)],
            with_total=True,
        )
    )
    ids = sorted(r["_id"] for r in res2.hits.collect())
    assert ids == ["a", "c"]
    assert res2.total == 2

    # LSH scale path: forcing the bucket route (knn_lsh_min_docs=0) at
    # full-recall probe settings (probe == planes) returns the identical
    # top-k to the brute-force route
    brute = Searcher(idx).search(
        SearchRequest(
            query=Qm.MatchNoneQuery(),
            knn=[KNNRequest(field="embedding", vector=[1.0, 0.0, 0.0], k=2)],
        )
    )
    lsh = Searcher(idx, knn_lsh_min_docs=0, knn_lsh_probe=16).search(
        SearchRequest(
            query=Qm.MatchNoneQuery(),
            knn=[KNNRequest(field="embedding", vector=[1.0, 0.0, 0.0], k=2)],
        )
    )
    bt = [(r["_id"], round(r["score"], 6)) for r in brute.hits.collect()]
    lt = [(r["_id"], round(r["score"], 6)) for r in lsh.hits.collect()]
    assert bt == lt
