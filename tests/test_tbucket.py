"""Directory-level postings pruning (round-5 verdict item 2).

Postings are written partitionBy(tbucket = crc32(field||\\x00||term) % n)
so a literal term lookup LISTS ~1/n of the files instead of opening
every footer (the scorch analogue: per-segment FST dictionaries key the
lookup, ref index/scorch/snapshot_index.go:475-480). Correctness must
never depend on the layout: a segment whose commit logs no fanout (its
postings are empty) turns the pruned path off.
"""

import glob

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
from bleve_spark.build import TBUCKETS, tbucket_col, tbucket_of
from bleve_spark.writer import IndexWriter


def _corpus(spark, n=120):
    rows = [
        (f"d{i}", f"alpha token{i % 7} beta{'' if i % 3 else ' gamma'}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "_id string, body string")


def _mapping():
    return IndexMapping(default_analyzer="standard", dynamic=False).add(
        FieldMapping("body")
    )


def _hits(spark, path, mapping, term):
    s = Searcher(SearchIndex(spark, path, mapping))
    res = s.search(
        SearchRequest(query=Q.TermQuery(field="body", term=term), size=200)
    )
    return sorted(r["_id"] for r in res.hits.collect())


def test_spark_python_crc32_bucket_parity(spark):
    df = spark.createDataFrame(
        [("body", "alpha"), ("content", "uniqec"), ("f", "ünïcode")],
        "field string, term string",
    )
    got = df.select(
        "field", "term", tbucket_col(F.col("field"), F.col("term"), 16).alias("tb")
    ).collect()
    for r in got:
        assert tbucket_of(r["field"], r["term"], 16) == r["tb"]


def test_partition_filter_in_plan_and_file_listing(spark, tmp_path):
    path = str(tmp_path / "idx")
    m = _mapping()
    IndexBuilder(spark, m, path).build(_corpus(spark), id_expr=F.col("_id"))
    idx = SearchIndex(spark, path, m)
    assert idx.tbuckets == TBUCKETS
    blocks = idx.blocks("body", ["alpha"])
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    b = tbucket_of("body", "alpha", TBUCKETS)
    assert f"tbucket" in plan and f"= {b})" in plan
    # the layout actually splits files across bucket dirs
    seg = idx._seg_metas[0]["dir"]
    total = len(glob.glob(f"{seg}/postings/tbucket=*/*.parquet"))
    in_bucket = len(glob.glob(f"{seg}/postings/tbucket={b}/*.parquet"))
    assert 0 < in_bucket < total
    # multi-term lookups take the union of their buckets
    blocks2 = idx.blocks("body", ["alpha", "beta"])
    plan2 = blocks2._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan2


def test_segmented_index_prunes_per_segment(spark, tmp_path):
    path = str(tmp_path / "seg")
    m = _mapping()
    w = IndexWriter(spark, m, path)
    docs = _corpus(spark, 60)
    w.batch_index(docs.where(F.col("_id") < "d3"), id_expr=F.col("_id"))
    w.batch_index(docs.where(F.col("_id") >= "d3"), id_expr=F.col("_id"))
    idx = SearchIndex(spark, path, m)
    assert len(idx._seg_metas) == 2
    assert idx.tbuckets is not None
    got = _hits(spark, path, m, "gamma")
    assert got == sorted(f"d{i}" for i in range(60) if i % 3 == 0)
    plan = idx.blocks("body", ["gamma"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("PartitionFilters") >= 2  # both segment scans prune


def test_mixed_layout_falls_back_to_full_scan(spark, tmp_path):
    path = str(tmp_path / "mixed")
    m = _mapping()
    w = IndexWriter(spark, m, path)
    docs = _corpus(spark, 60)
    # a batch whose bodies are all empty has empty postings, so its
    # commit logs no fanout
    w.batch_index(
        docs.where(F.col("_id") < "d3").withColumn("body", F.lit("")),
        id_expr=F.col("_id"),
    )
    w.batch_index(docs.where(F.col("_id") >= "d3"), id_expr=F.col("_id"))
    idx = SearchIndex(spark, path, m)
    assert "tbuckets" not in idx._seg_metas[0]
    assert idx.tbuckets is None  # gate closed -> no partition filter
    assert "PartitionFilters: []" in (
        idx.blocks("body", ["gamma"])._jdf.queryExecution().executedPlan().toString()
    )
    # hits do not depend on pruning: equal to a pruned index of the
    # same (non-empty) docs
    pruned = str(tmp_path / "pruned")
    IndexBuilder(spark, m, pruned).build(
        docs.where(F.col("_id") >= "d3"), id_expr=F.col("_id")
    )
    assert SearchIndex(spark, pruned, m).tbuckets == TBUCKETS
    for term in ("alpha", "token3", "gamma", "missing"):
        assert _hits(spark, path, m, term) == _hits(spark, pruned, m, term)
    assert _hits(spark, path, m, "gamma") == sorted(
        f"d{i}" for i in range(60) if i % 3 == 0 and f"d{i}" >= "d3"
    )
