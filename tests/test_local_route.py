"""The driver-local route of Searcher.search against the Spark route.

Every query shape with a local form (term, match, conjunction,
disjunction, boolean, phrase, prefix) runs on both routes: the default
gate (search.LOCAL_MAX_POSTINGS) takes the local route, a zero gate
forces the Spark route. The routes read the same plan, so they must return the same ids
in the same order, term-leaf scores bit for bit and composite scores
within 1e-12. The local route must start no Spark job, `hits.collect()`
included. Requests that need Spark (facets, highlight, a field sort,
search_after, a filter, a fuzzy expansion) fall back and answer as the
Spark route does.
"""

import itertools

import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    IndexWriter,
    Searcher,
    SearchIndex,
    SearchRequest,
    code_corpus_mapping,
    parse_query,
)
from bleve_spark import query as Q
from bleve_spark import search
from bleve_spark.corpus import generate_corpus
from bleve_spark.highlight import HighlightRequest
from bleve_spark.search import FacetRequest

FIELD = "content"


def term(t):
    return {"term": t, "field": FIELD}


# (name, query JSON, term leaf: scores must be bit-identical)
CASES = [
    ("term", term("merge"), True),
    ("term_rare", term("uniqig"), True),
    ("match_one_token", {"match": "index", "field": FIELD}, True),
    ("match_or", {"match": "merge index filter", "field": FIELD}, False),
    (
        "match_and",
        {"match": "merge index filter", "field": FIELD, "operator": "and"},
        False,
    ),
    ("match_repeated_token", {"match": "merge merge index", "field": FIELD}, False),
    ("conjunction", {"conjuncts": [term("merge"), term("index")]}, False),
    (
        "disjunction_min2",
        {"disjuncts": [term("merge"), term("seg"), term("uniqig"), term("scan")], "min": 2},
        False,
    ),
    (
        "boolean_must_not",
        {
            "must": {"conjuncts": [term("merge"), term("index")]},
            "must_not": {"disjuncts": [term("filter")]},
        },
        False,
    ),
    (
        "boolean_min_should",
        {
            "must": {"conjuncts": [term("merge")]},
            "should": {"disjuncts": [term("index"), term("seg")]},
            "min_should": 1,
        },
        False,
    ),
    (
        "boolean_should_bonus",
        {
            "must": {"conjuncts": [term("merge")]},
            "should": {"disjuncts": [term("index"), term("uniqig")]},
        },
        False,
    ),
    ("boolean_must_not_only", {"must_not": {"disjuncts": [term("filter")]}}, False),
    ("phrase", {"match_phrase": "get cache", "field": FIELD}, False),
    ("phrase_slop", {"match_phrase": "get cache", "field": FIELD, "slop": 2}, False),
    ("multi_phrase", {"terms": [["get", "set"], "cache"], "field": FIELD}, False),
    ("prefix", {"prefix": "me", "field": FIELD}, False),
    ("absent_term", term("zzzabsent"), True),
]

_groups = itertools.count()


def run(spark, idx, req, route="local"):
    """(result, rows, Spark jobs the request started) of `req` on
    `route`: "local" keeps the gate as it is, "spark" sets it to 0."""
    sc = spark.sparkContext
    gid = f"local-route-{next(_groups)}"
    sc.setJobGroup(gid, gid)
    try:
        with pytest.MonkeyPatch.context() as mp:
            if route == "spark":
                mp.setattr(search, "LOCAL_MAX_POSTINGS", 0)
            res = Searcher(idx).search(req)
            rows = res.hits.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, rows, len(sc.statusTracker().getJobIdsForGroup(gid))


def assert_same_answer(spark, idx, body, similarity, leaf, size=20):
    req = SearchRequest(
        query=parse_query(body), size=size, with_total=True, similarity=similarity
    )
    local, lrows, ljobs = run(spark, idx, req)
    sp, srows, _ = run(spark, idx, req, "spark")
    assert ljobs == 0
    assert local.total == sp.total
    assert [r["_id"] for r in lrows] == [r["_id"] for r in srows]
    assert [r["docid"] for r in lrows] == [r["docid"] for r in srows]
    for a, b in zip(lrows, srows):
        if leaf:
            assert a["score"] == b["score"]
        else:
            assert a["score"] == pytest.approx(b["score"], rel=1e-12)
    assert local.hits.schema.simpleString() == sp.hits.schema.simpleString()
    return lrows, local.total


@pytest.mark.parametrize("similarity", ["tfidf", "bm25"])
@pytest.mark.parametrize("name,body,leaf", CASES, ids=[c[0] for c in CASES])
def test_routes_agree_on_one_segment(spark, built_index, name, body, leaf, similarity):
    rows, total = assert_same_answer(spark, built_index, body, similarity, leaf)
    if name == "absent_term":
        assert rows == [] and total == 0
    else:
        assert rows, name


@pytest.fixture(scope="module")
def written_index(spark, tmp_path_factory):
    """Three IndexWriter segments over the 300-doc corpus, with upserts
    (new content under an old id) and deletes."""
    path = str(tmp_path_factory.mktemp("local_route") / "idx")
    pdf = generate_corpus(300).drop(columns=["content_sha256"])
    pdf.insert(0, "_id", [f"d{i}" for i in range(len(pdf))])
    w = IndexWriter(spark, code_corpus_mapping(), path)
    w.batch_index(spark.createDataFrame(pdf.iloc[:120]), id_expr=F.col("_id"))
    second = pdf.iloc[120:220].copy()
    second.iloc[:20, 0] = [f"d{i}" for i in range(0, 40, 2)]  # upserts
    w.batch_index(spark.createDataFrame(second), id_expr=F.col("_id"))
    w.delete([f"d{i}" for i in range(1, 60, 3)])
    third = pdf.iloc[220:].copy()
    third.iloc[:10, 0] = [f"d{i}" for i in range(130, 150, 2)]  # upserts
    w.batch_index(spark.createDataFrame(third), id_expr=F.col("_id"))
    idx = SearchIndex(spark, path, code_corpus_mapping())
    assert len(idx._seg_metas) == 3 and idx.dead_docids.size
    return idx


@pytest.mark.parametrize("similarity", ["tfidf", "bm25"])
@pytest.mark.parametrize("name,body,leaf", CASES, ids=[c[0] for c in CASES])
def test_routes_agree_on_segments_with_dead_docs(
    spark, written_index, name, body, leaf, similarity
):
    rows, _total = assert_same_answer(
        spark, written_index, body, similarity, leaf, size=400
    )
    dead = set(written_index.dead_docids.tolist())
    assert not dead & {r["docid"] for r in rows}
    assert len({r["_id"] for r in rows}) == len(rows)
    deleted = {f"d{i}" for i in range(1, 60, 3)}
    assert not deleted & {r["_id"] for r in rows}


def test_local_pages_keep_ties_and_fetch_fields(spark, built_index):
    """Paging through a tied score: every page agrees with the Spark
    route, and requested stored fields come back typed as it types them."""
    body = {"must_not": {"disjuncts": [term("filter")]}}  # every score 1.0
    for from_ in (0, 3, 7):
        req = SearchRequest(
            query=parse_query(body), size=4, from_=from_, fields=["lang", "path"]
        )
        local, lrows, ljobs = run(spark, built_index, req)
        sp, srows, _ = run(spark, built_index, req, "spark")
        assert ljobs == 0
        assert [r.asDict() for r in lrows] == [r.asDict() for r in srows]
        assert local.hits.schema.simpleString() == sp.hits.schema.simpleString()


MERGE = Q.TermQuery(field=FIELD, term="merge")
FALLBACKS = [
    ("facet", dict(query=MERGE, facets={"l": FacetRequest(field="lang")})),
    ("highlight", dict(query=MERGE, highlight=HighlightRequest(fields=[FIELD]))),
    ("field_sort", dict(query=MERGE, sort=["lang", "_id"])),
    ("search_after", dict(query=MERGE, search_after=[1.0, "a"])),
    ("filter", dict(query=Q.FilterQuery(child=MERGE, predicate="lang = 'go'"))),
    ("fuzzy", dict(query=Q.FuzzyQuery(field=FIELD, term="merg", fuzziness=1))),
]


@pytest.mark.parametrize("name,kw", FALLBACKS, ids=[f[0] for f in FALLBACKS])
def test_spark_only_requests_fall_back(spark, built_index, name, kw):
    req = SearchRequest(size=5, with_total=True, **kw)
    res, rows, jobs = run(spark, built_index, req)
    want, wrows, _ = run(spark, built_index, req, "spark")
    assert jobs > 0
    assert res.total == want.total
    assert [r.asDict() for r in rows] == [r.asDict() for r in wrows]
    assert rows
    if name == "facet":
        assert res.facets["l"].collect() == want.facets["l"].collect()


def test_prefix_over_the_gate_plans_with_no_driver_slice(
    spark, built_index, monkeypatch
):
    """A prefix whose dictionary slice holds as many rows as the gate
    could never run locally: it plans on the Spark agg, with no slice
    read on the driver, and answers as the local route does."""
    req = SearchRequest(query=Q.PrefixQuery(field=FIELD, prefix="s"), size=20)
    want, wrows, _ = run(spark, built_index, req)
    reads = []
    monkeypatch.setattr(
        built_index,
        "_dictionary_slice",
        lambda *a: reads.append(a) or SearchIndex._dictionary_slice(built_index, *a),
    )
    monkeypatch.setattr(search, "LOCAL_MAX_POSTINGS", 5)
    plan = Searcher(built_index).plan(req.query)
    assert plan.local is None and not reads
    res, rows, jobs = run(spark, built_index, req)
    assert jobs > 0 and not reads
    assert [r["_id"] for r in rows] == [r["_id"] for r in wrows]
    for a, b in zip(rows, wrows):
        assert a["score"] == pytest.approx(b["score"], rel=1e-12)


def test_fields_missing_from_a_later_segment_read_as_null(spark, tmp_path):
    """A stored column only the first IndexWriter batch carries: the
    local page fetch gives the later segment's docs nulls, as the Spark
    route does, instead of failing on the segment that lacks it."""
    pdf = generate_corpus(60).drop(columns=["content_sha256"])
    pdf.insert(0, "_id", [f"d{i}" for i in range(len(pdf))])
    first = pdf.iloc[:30].assign(note=[f"n{i}" for i in range(30)])
    w = IndexWriter(spark, code_corpus_mapping(), str(tmp_path / "idx"))
    w.batch_index(spark.createDataFrame(first), id_expr=F.col("_id"))
    w.batch_index(spark.createDataFrame(pdf.iloc[30:]), id_expr=F.col("_id"))
    idx = SearchIndex(spark, str(tmp_path / "idx"), code_corpus_mapping())
    req = SearchRequest(query=MERGE, size=60, fields=["note"])
    local, lrows, ljobs = run(spark, idx, req)
    sp, srows, _ = run(spark, idx, req, "spark")
    assert ljobs == 0
    assert [r.asDict() for r in lrows] == [r.asDict() for r in srows]
    notes = {r["_id"]: r["note"] for r in lrows}
    assert any(notes.values()) and None in notes.values()
    assert all((v is None) == (int(k[1:]) >= 30) for k, v in notes.items())
