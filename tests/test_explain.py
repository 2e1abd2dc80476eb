"""Explanation tree parity: values must equal the actual scores and the
message shapes must mirror the reference's scorer explanations
(/root/reference/search/scorer/scorer_term.go:117-170,
scorer_term_test.go explanation cases)."""

import itertools

import pytest

from bleve_spark import Searcher, SearchRequest, scoring, search
from bleve_spark import query as Q


def _score_of(index, q, doc_id):
    s = Searcher(index)
    res = s.search(SearchRequest(query=q, size=100))
    for r in res.hits.collect():
        if r["_id"] == doc_id:
            return r["score"]
    return None


def test_term_explanation_matches_score(built_index):
    q = Q.TermQuery(field="content", term="return")
    s = Searcher(built_index)
    hit = s.search(SearchRequest(query=q, size=1)).hits.collect()[0]
    expl = s.explain(q, hit["_id"])
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    assert expl["message"].startswith("fieldWeight(content:return in ")
    msgs = [c["message"] for c in expl["children"]]
    assert msgs[0].startswith("tf(termFreq(content:return)=")
    assert msgs[1].startswith("fieldNorm(field=content")
    assert msgs[2].startswith("idf(docFreq=")
    # children multiply to the value (product-of semantics)
    prod = 1.0
    for c in expl["children"]:
        prod *= c["value"]
    assert prod == pytest.approx(expl["value"], rel=1e-12)


def test_match_or_explanation_matches_score(built_index):
    q = Q.MatchQuery(field="content", text="return value")
    s = Searcher(built_index)
    hits = s.search(SearchRequest(query=q, size=5)).hits.collect()
    for hit in hits[:3]:
        expl = s.explain(q, hit["_id"])
        assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)


def test_conjunction_explanation_matches_score(built_index):
    q = Q.ConjunctionQuery(
        conjuncts=[
            Q.TermQuery(field="content", term="func"),
            Q.TermQuery(field="content", term="return"),
        ]
    )
    s = Searcher(built_index)
    hit = s.search(SearchRequest(query=q, size=1)).hits.collect()[0]
    expl = s.explain(q, hit["_id"])
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    assert expl["message"] == "sum of:"
    # each child is a weight(...) node carrying queryNorm
    for c in expl["children"]:
        assert c["message"].startswith("weight(content:")


def test_explain_nonmatching_doc_returns_none(built_index):
    s = Searcher(built_index)
    some_id = s.index.docs.select("_id").limit(1).collect()[0]["_id"]
    assert (
        s.explain(Q.TermQuery(field="content", term="zz_nonexistent"), some_id)
        is None
    )


def test_bm25_term_explanation_matches_score(built_index):
    from bleve_spark import scoring

    q = Q.TermQuery(field="content", term="return")
    s = Searcher(built_index, scoring.BM25)
    hit = s.search(
        SearchRequest(query=q, size=1, similarity=scoring.BM25)
    ).hits.collect()[0]
    expl = s.explain(q, hit["_id"])
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    msgs = [c["message"] for c in expl["children"]]
    assert msgs[0] == "boost"
    assert msgs[1].startswith("idf(docFreq=")
    assert msgs[2].startswith("tfNorm(freq=")


def test_bm25_match_explanation_matches_score(built_index):
    from bleve_spark import scoring

    q = Q.MatchQuery(field="content", text="return value")
    s = Searcher(built_index, scoring.BM25)
    hits = s.search(
        SearchRequest(query=q, size=3, similarity=scoring.BM25)
    ).hits.collect()
    for hit in hits:
        expl = s.explain(q, hit["_id"])
        assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)


def test_phrase_explanation_matches_score(built_index):
    q = Q.MatchPhraseQuery(field="content", text="apache license")
    s = Searcher(built_index)
    hits = s.search(SearchRequest(query=q, size=3)).hits.collect()
    assert hits, "phrase fixture must match"
    for hit in hits:
        expl = s.explain(q, hit["_id"])
        assert expl is not None
        assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    # a phrase with no position path explains to None even when the
    # terms are present (order matters)
    q_rev = Q.MatchPhraseQuery(field="content", text="version apache")
    assert s.explain(q_rev, hits[0]["_id"]) is None


# -- round-4: expansion-query explanations ----------------------------------
# (ref: every scorer explains — scorer_term.go:77-114 via the multi-term
# disjunction, scorer_constant.go:74-126 for constant-scored types)

EXPANSION_QUERIES = [
    Q.PrefixQuery(field="content", prefix="ret"),
    Q.WildcardQuery(field="content", wildcard="ret*rn"),
    Q.RegexpQuery(field="content", regexp="retur[nm]"),
    Q.FuzzyQuery(field="content", term="returm", fuzziness=1),
    Q.TermRangeQuery(field="content", min="return", max="returnzz"),
]


@pytest.mark.parametrize("q", EXPANSION_QUERIES, ids=lambda q: type(q).__name__)
def test_expansion_explanation_matches_score_tfidf(built_index, q):
    s = Searcher(built_index)
    hits = s.search(SearchRequest(query=q, size=3)).hits.collect()
    assert hits, "expansion fixture must match"
    for hit in hits:
        expl = s.explain(q, hit["_id"])
        assert expl is not None
        assert expl["value"] == pytest.approx(hit["score"], rel=1e-9)


@pytest.mark.parametrize("q", EXPANSION_QUERIES, ids=lambda q: type(q).__name__)
def test_expansion_explanation_matches_score_bm25(built_index, q):
    from bleve_spark import scoring

    s = Searcher(built_index, scoring.BM25)
    hits = s.search(
        SearchRequest(query=q, size=3, similarity=scoring.BM25)
    ).hits.collect()
    assert hits
    for hit in hits:
        expl = s.explain(q, hit["_id"])
        assert expl is not None
        assert expl["value"] == pytest.approx(hit["score"], rel=1e-9)


def test_expansion_explanation_nonmatching_doc(built_index):
    s = Searcher(built_index)
    q = Q.PrefixQuery(field="content", prefix="zz_nonexistent")
    some_id = s.index.docs.select("_id").limit(1).collect()[0]["_id"]
    assert s.explain(q, some_id) is None


# -- round-4: constant-scorer explanations ----------------------------------


@pytest.fixture(scope="module")
def typed_index(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from bleve_spark import FieldMapping, IndexBuilder, IndexMapping, SearchIndex

    path = str(tmp_path_factory.mktemp("explain_typed") / "idx")
    rows = [
        ("d1", "alpha", 5.0, "2023-01-10T00:00:00", True, "10.0.0.5",
         {"lat": 48.85, "lon": 2.35}),
        ("d2", "beta", 15.0, "2024-06-01T00:00:00", False, "192.168.1.9",
         {"lat": 40.7, "lon": -74.0}),
    ]
    df = spark.createDataFrame(
        rows,
        "id string, body string, price double, created string, "
        "active boolean, ip string, loc struct<lat:double,lon:double>",
    ).withColumn("created", F.col("created").cast("timestamp"))
    m = IndexMapping(default_analyzer="standard")
    m.add(FieldMapping("body"))
    IndexBuilder(spark, m, path).build(df, id_expr=F.col("id"))
    return SearchIndex(spark, path, m)


CONSTANT_QUERIES = [
    Q.NumericRangeQuery(field="price", min=1.0, max=10.0),
    Q.DateRangeQuery(field="created", start="2022-01-01", end="2023-12-31"),
    Q.BoolFieldQuery(field="active", value=True),
    Q.DocIDQuery(ids=["d1"]),
    Q.IPRangeQuery(field="ip", cidr="10.0.0.0/8"),
    Q.GeoDistanceQuery(field="loc", location=[2.35, 48.85], distance="10km"),
    Q.GeoBoundingBoxQuery(
        field="loc", top_left=[2.0, 49.0], bottom_right=[3.0, 48.0]
    ),
    Q.GeoPolygonQuery(
        field="loc",
        polygon_points=[[2.0, 48.0], [3.0, 48.0], [3.0, 49.0], [2.0, 49.0]],
    ),
    Q.MatchAllQuery(),
]


@pytest.mark.parametrize(
    "q", CONSTANT_QUERIES, ids=lambda q: type(q).__name__
)
def test_constant_explanation_matches_score(typed_index, q):
    s = Searcher(typed_index)
    hits = s.search(SearchRequest(query=q, size=5)).hits.collect()
    assert hits, "constant fixture must match d1"
    assert any(h["_id"] == "d1" for h in hits)
    for hit in hits:
        expl = s.explain(q, hit["_id"])
        assert expl is not None
        assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
        assert "ConstantScore()" in expl["message"]
    # d2 is outside every constant predicate except match_all
    if not isinstance(q, Q.MatchAllQuery):
        assert s.explain(q, "d2") is None


def test_constant_explanation_boost_shape(typed_index):
    # boosted constant query: reference tree shape weight() -> product
    q = Q.NumericRangeQuery(field="price", min=1.0, max=10.0, boost=2.5)
    s = Searcher(typed_index)
    hit = s.search(SearchRequest(query=q, size=1)).hits.collect()[0]
    expl = s.explain(q, hit["_id"])
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    assert expl["message"].startswith("weight(^2.5")
    kids = expl["children"]
    assert kids[0]["message"].startswith("ConstantScore()^2.5")
    assert kids[1]["message"] == "ConstantScore()"


def test_constant_explanation_bm25_mode(typed_index):
    from bleve_spark import scoring

    q = Q.BoolFieldQuery(field="active", value=True)
    s = Searcher(typed_index, scoring.BM25)
    hit = s.search(
        SearchRequest(query=q, size=1, similarity=scoring.BM25)
    ).hits.collect()[0]
    expl = s.explain(q, hit["_id"])
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)


def test_filter_query_explanation_delegates(typed_index):
    q = Q.FilterQuery(
        child=Q.MatchAllQuery(), predicate="price < 10"
    )
    s = Searcher(typed_index)
    expl = s.explain(q, "d1")
    assert expl is not None and expl["value"] == 1.0
    assert s.explain(q, "d2") is None  # filtered out


# -- explain walks the plan search() runs: one case per planner shape -------


def _t(term):
    return Q.TermQuery(field="content", term=term)


def _match(text, **kw):
    return Q.MatchQuery(field="content", text=text, **kw)


PHRASE = Q.MatchPhraseQuery(field="content", text="apache license")

# name -> (query, expansion: scored through a dictionary expansion, whose
# idf column and Python idf may differ in the last bit)
PLAN_SHAPES = {
    "term": (_t("apache"), False),
    "match_or": (_match("apache commit"), False),
    "match_and": (_match("apache commit", operator="and"), False),
    "match_repeated_token": (_match("apache commit apache"), False),
    "match_fuzzy": (_match("apachi licenze", fuzziness=1), True),
    "prefix": (Q.PrefixQuery(field="content", prefix="lic"), True),
    "phrase": (PHRASE, False),
    "multi_phrase": (
        Q.PhraseQuery(field="content", terms=[["apache", "the"], "license"]),
        False,
    ),
    "conjunction_with_phrase": (
        Q.ConjunctionQuery(conjuncts=[_t("commit"), PHRASE]),
        False,
    ),
    "conjunction_with_constant": (
        Q.ConjunctionQuery(conjuncts=[Q.MatchAllQuery(boost=2.0), _t("apache")]),
        False,
    ),
    "disjunction_min2": (
        Q.DisjunctionQuery(
            disjuncts=[_t("apache"), _t("commit"), _t("hash")], min=2
        ),
        False,
    ),
    "boolean": (
        Q.BooleanQuery(
            must=[_t("commit")], should=[_t("apache")], must_not=[_t("hash")]
        ),
        False,
    ),
    "boolean_min_should": (
        Q.BooleanQuery(
            must=[_t("commit")],
            should=[_t("apache"), _t("license")],
            min_should=1,
        ),
        False,
    ),
    "boolean_only_must_not": (Q.BooleanQuery(must_not=[_t("apache")]), False),
    "filter_match": (
        Q.FilterQuery(child=_match("apache commit"), predicate="lang = 'go'"),
        False,
    ),
}


def _matching_ids(s, q):
    return {
        r["_id"]
        for r in s.matches(q).join(s.index.docs, "docid").select("_id").collect()
    }


@pytest.mark.parametrize("similarity", ["tfidf", "bm25"])
@pytest.mark.parametrize("name", list(PLAN_SHAPES))
def test_explain_follows_plan(built_index, name, similarity):
    q, expansion = PLAN_SHAPES[name]
    s = Searcher(built_index, similarity)
    hits = s.search(
        SearchRequest(query=q, size=3, similarity=similarity)
    ).hits.collect()
    assert hits, f"{name} must match the fixture"
    for hit in hits:
        expl = s.explain(q, hit["_id"])
        assert expl is not None
        assert expl["value"] == pytest.approx(
            hit["score"], rel=1e-9 if expansion else 1e-12
        )
    all_ids = {r["_id"] for r in s.index.docs.select("_id").collect()}
    missing = sorted(all_ids - _matching_ids(s, q))
    assert missing, f"{name} must leave some fixture doc unmatched"
    assert s.explain(q, missing[0]) is None
    for mn in getattr(q, "must_not", []):
        excluded = sorted(_matching_ids(s, mn))
        assert excluded
        assert s.explain(q, excluded[0]) is None


def test_one_token_match_explains_as_its_term(built_index):
    s = Searcher(built_index)
    hit = s.search(
        SearchRequest(query=_match("apache"), size=1)
    ).hits.collect()[0]
    expl = s.explain(_match("apache"), hit["_id"])
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    assert expl["message"].startswith("weight(content:apache^")


@pytest.mark.parametrize("similarity", ["tfidf", "bm25"])
@pytest.mark.parametrize("name", list(PLAN_SHAPES))
def test_explain_follows_plan_on_the_spark_route(
    built_index, name, similarity, monkeypatch
):
    """The same checks with every search on the Spark route: a prefix
    then plans on the Spark agg, and its explanation reads the doc's
    block of every term of the field on the driver."""
    monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", 0)
    test_explain_follows_plan(built_index, name, similarity)


_groups = itertools.count()

# a scored leaf of each kind, and a must/should boolean of them
ONE_JOB_SHAPES = {
    "term": _t("apache"),
    "match_or": _match("apache commit"),
    "phrase": PHRASE,
    "prefix": Q.PrefixQuery(field="content", prefix="lic"),
    "boolean": Q.BooleanQuery(
        must=[_t("commit")],
        should=[_match("apache commit"), PHRASE, Q.PrefixQuery(field="content", prefix="lic")],
    ),
}


@pytest.mark.parametrize("name", list(ONE_JOB_SHAPES))
def test_explain_starts_one_spark_job(spark, built_index, name):
    """Scored leaves read their doc's postings on the driver: the one
    Spark job explain() starts is the _id lookup."""
    q = ONE_JOB_SHAPES[name]
    s = Searcher(built_index)
    hit = s.search(SearchRequest(query=q, size=1)).hits.collect()[0]
    sc = spark.sparkContext
    gid = f"explain-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        expl = s.explain(q, hit["_id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert expl["value"] == pytest.approx(hit["score"], rel=1e-12)
    assert len(sc.statusTracker().getJobIdsForGroup(gid)) == 1


def test_request_similarity_defaults_to_the_searchers(built_index):
    """A request that names no similarity scores with its Searcher's,
    the one explain() uses."""
    q = _match("apache commit")
    s = Searcher(built_index, scoring.BM25)
    got = s.search(SearchRequest(query=q, size=1)).hits.collect()[0]
    want = s.search(
        SearchRequest(query=q, size=1, similarity=scoring.BM25)
    ).hits.collect()[0]
    assert (got["_id"], got["score"]) == (want["_id"], want["score"])
    assert s.explain(q, got["_id"])["value"] == pytest.approx(
        got["score"], rel=1e-12
    )
