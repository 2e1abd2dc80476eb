"""A segment is three tables, docs, postings and dictionary; its
per-field doc count and total length live in its add_segment action,
so opening a snapshot and reading its stats runs no Spark job (ref: a
zap segment stores a term dictionary, postings with freq and norm, and
stored fields — never the analysis output)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from bleve_spark import FieldMapping, IndexMapping, IndexWriter, SearchIndex
from bleve_spark.analysis import get_analyzer
from bleve_spark.build import IndexBuilder
from bleve_spark.writer import MergePlanOptions

BATCH_A = {f"a{i:02d}": (f"red fox {i} runs far", "Quick Title") for i in range(30)}
BATCH_B = {
    **{f"a{i:02d}": ("upserted wolf", "") for i in range(4)},
    **{f"b{i:02d}": (f"cow {i} " * (i % 5 + 1), f"T{i} of the day") for i in range(20)},
}


def _mapping():
    m = IndexMapping(default_analyzer="standard", compose_all=False)
    m.add(FieldMapping("body"))
    m.add(FieldMapping("title", analyzer="keyword"))
    return m


def _df(spark, docs):
    return spark.createDataFrame(
        [(k, b, t) for k, (b, t) in sorted(docs.items())], ["id", "body", "title"]
    )


def _segment_tables(path):
    root = os.path.join(path, "segments")
    return {name: sorted(os.listdir(os.path.join(root, name))) for name in os.listdir(root)}


def test_every_segment_holds_three_tables(spark, tmp_path):
    path = str(tmp_path / "idx")
    three = ["dictionary", "docs", "postings"]
    IndexBuilder(spark, _mapping(), path).build(_df(spark, BATCH_A), id_expr=F.col("id"))
    assert list(_segment_tables(path).values()) == [three]
    w = IndexWriter(spark, _mapping(), path)
    w.batch_index(_df(spark, BATCH_B), id_expr=F.col("id"))
    assert list(_segment_tables(path).values()) == [three, three]
    assert w.maybe_merge(MergePlanOptions(max_segments_per_tier=1))
    assert list(_segment_tables(path).values()) == [three]


def test_field_stats_sum_the_segments_commits(spark, tmp_path):
    path = str(tmp_path / "idx")
    w = IndexWriter(spark, _mapping(), path)
    w.batch_index(_df(spark, BATCH_A), id_expr=F.col("id"))
    w.batch_index(_df(spark, BATCH_B), id_expr=F.col("id"))
    w.delete(["a10", "b03"])
    # every indexed row counts, dead and superseded ones too, as the
    # dictionary's df does until a merge
    rows = list(BATCH_A.values()) + list(BATCH_B.values())
    idx = SearchIndex(spark, path, _mapping())
    assert len(idx._seg_metas) == 2 and idx.doc_count == len(rows) - 4 - 2
    expected = {}
    for k, (fld, analyzer) in enumerate([("body", "standard"), ("title", "keyword")]):
        total = sum(get_analyzer(analyzer).termfreq(r[k])[0] for r in rows)
        n = len(rows)
        expected[fld] = {"doc_count": n, "total_len": total, "avg_len": total / n}
    assert idx.field_stats == expected
    assert idx.avg_len("body") == expected["body"]["avg_len"]


def test_open_and_stats_run_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "idx")
    w = IndexWriter(spark, _mapping(), path)
    w.batch_index(_df(spark, BATCH_A), id_expr=F.col("id"))
    w.batch_index(_df(spark, BATCH_B), id_expr=F.col("id"))
    sc = spark.sparkContext
    sc.setJobGroup("open-index", "open a snapshot and read its stats")
    try:
        idx = SearchIndex(spark, path, _mapping())
        assert idx.doc_count == len(BATCH_A) + len(BATCH_B) - 4
        assert set(idx.field_stats) == {"body", "title"}
        assert idx.tbuckets is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("open-index")) == []


def test_term_stats_read_the_dictionaries_with_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "idx")
    w = IndexWriter(spark, _mapping(), path)
    w.batch_index(_df(spark, BATCH_A), id_expr=F.col("id"))
    w.batch_index(_df(spark, BATCH_B), id_expr=F.col("id"))
    w.delete(["a10", "b03"])
    idx = SearchIndex(spark, path, _mapping())
    assert len(idx._seg_metas) == 2
    asked = {
        "body": ["fox", "cow", "wolf", "upserted", "red", "3", "absent"],
        "title": ["Quick Title", "T3 of the day", "quick title"],
    }
    sc = spark.sparkContext
    sc.setJobGroup("term-stats", "uncached dictionary lookups")
    try:
        got = {fld: idx.term_stats(fld, ts) for fld, ts in asked.items()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("term-stats")) == []
    for fld, ts in asked.items():
        rows = (
            idx.dictionary.where((F.col("field") == fld) & F.col("term").isin(ts))
            .collect()
        )
        # the dictionary DataFrame sums df/cf over the two segments
        assert got[fld] == {r["term"]: (r["df"], r["cf"]) for r in rows}
    assert got["body"]["fox"][0] == 30  # dead docs count until compaction
    assert "absent" not in got["body"] and "quick title" not in got["title"]


class Injected(Exception):
    pass


def test_build_releases_its_persisted_analysis(spark, tmp_path, monkeypatch):
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    path = str(tmp_path / "idx")
    IndexBuilder(spark, _mapping(), path).build(_df(spark, BATCH_A), id_expr=F.col("id"))
    assert cache.isEmpty()
    real = IndexBuilder._write

    def write(self, df, where, *partition_by):
        if os.path.basename(where) == "postings":
            assert not cache.isEmpty()  # the analysis is persisted here
            raise Injected("postings write")
        real(self, df, where, *partition_by)

    monkeypatch.setattr(IndexBuilder, "_write", write)
    with pytest.raises(Injected):
        IndexWriter(spark, _mapping(), path).batch_index(
            _df(spark, BATCH_B), id_expr=F.col("id")
        )
    assert cache.isEmpty()


def test_segment_without_field_stats_is_rebuilt(spark, tmp_path):
    path = str(tmp_path / "idx")
    builder = IndexBuilder(spark, _mapping(), path)
    corpus = _df(spark, BATCH_A)
    builder.build(corpus, id_expr=F.col("id"))
    # what a segment committed before field stats were logged looks like
    log = os.path.join(path, "_log")
    entry = os.path.join(log, sorted(os.listdir(log))[-1])
    with open(entry) as f:
        actions = json.load(f)
    for a in actions:
        a.get("add_segment", {}).pop("fields", None)
    with open(entry, "w") as f:
        json.dump(actions, f)
    with pytest.raises(ValueError, match="rebuild"):
        SearchIndex(spark, path, _mapping()).field_stats
    # the same build again is not taken as done
    report = builder.build(corpus, id_expr=F.col("id"))
    assert report.stages
    assert len(os.listdir(log)) == 2
    assert SearchIndex(spark, path, _mapping()).field_stats["body"]["doc_count"] == 30


def test_rebuild_with_another_id_expr_is_not_skipped(spark, tmp_path):
    path = str(tmp_path / "idx")
    builder = IndexBuilder(spark, _mapping(), path)
    corpus = _df(spark, BATCH_A)
    builder.build(corpus, id_expr=F.col("id"))
    report = builder.build(corpus, id_expr=F.concat(F.lit("x-"), F.col("id")))
    assert report.stages
    ids = {r["_id"] for r in SearchIndex(spark, path, _mapping()).docs.collect()}
    assert ids == {f"x-{k}" for k in BATCH_A}
