"""Port of the reference alias golden suite
/root/reference/test/tests/alias/ (two keyword-analyzed shards {a,c} and
{b,d}; match-all merge + search_after/search_before across shards), plus
per-shard-IDF semantics (SURVEY.md §2.6: alias children score with their
own stats, ref searcher/search_term.go:59-64)."""

import shutil

import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    FieldMapping,
    IndexAlias,
    IndexBuilder,
    IndexMapping,
    SearchIndex,
    Searcher,
    SearchRequest,
    parse_query,
)

BASE = "/tmp/bleve_spark_alias_suite"
SHARDS = {"shard0": ["a", "c"], "shard1": ["b", "d"]}


@pytest.fixture(scope="module")
def alias(spark):
    searchers = []
    for shard, names in SHARDS.items():
        path = f"{BASE}_{shard}"
        shutil.rmtree(path, ignore_errors=True)
        m = IndexMapping(default_analyzer="keyword", compose_all=True)
        m.add(FieldMapping("name", analyzer="keyword"))
        corpus = spark.createDataFrame(
            [(n, n) for n in names], ["id", "name"]
        )
        IndexBuilder(spark, m, path).build(corpus, id_expr=F.col("id"))
        searchers.append(Searcher(SearchIndex(spark, path, m)))
    return IndexAlias(searchers)


def ids(res):
    return [r["_id"] for r in res.hits.collect()]


def test_match_all_across_shards(alias):
    res = alias.search(
        SearchRequest(query=parse_query({"match_all": {}}), with_total=True)
    )
    assert ids(res) == ["a", "b", "c", "d"]
    assert res.total == 4


def test_search_after_across_shards(alias):
    res = alias.search(
        SearchRequest(
            query=parse_query({"match_all": {}}),
            size=2,
            sort=["name"],
            search_after=["b"],
            with_total=True,
        )
    )
    assert ids(res) == ["c", "d"]
    assert res.total == 4


def test_search_before_across_shards(alias):
    res = alias.search(
        SearchRequest(
            query=parse_query({"match_all": {}}),
            size=2,
            sort=["name"],
            search_before=["c"],
            with_total=True,
        )
    )
    assert ids(res) == ["a", "b"]
    assert res.total == 4


def test_per_shard_idf(alias):
    """Term scores use each child's own doc count — the reference's
    per-shard IDF behavior, not global stats."""
    res = alias.search(
        SearchRequest(
            query=parse_query({"field": "name", "term": "a"}),
            with_total=True,
        )
    )
    rows = res.hits.collect()
    assert [r["_id"] for r in rows] == ["a"]
    from bleve_spark import scoring

    # child shard0 has N=2 docs, df("a")=1 -> idf = 1 + ln(2/2)
    idf = scoring.idf(scoring.TFIDF, 2, 1)
    exp = scoring.term_scores(scoring.TFIDF, [1], [1], idf, 1.0, None, 1.0)[0]
    assert rows[0]["score"] == pytest.approx(exp, rel=1e-12)
