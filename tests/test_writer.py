"""Incremental write path: batch segments, upsert, delete,
compaction — the scorch Batch/Delete/merge semantics (SURVEY.md §2.1/2.3;
ref index/scorch/scorch.go:365-443, README.md:108-133, builder.go:135-240)
re-done as immutable parquet segments + read-time masking."""

import shutil

import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    FieldMapping,
    IndexMapping,
    IndexWriter,
    SearchIndex,
    Searcher,
    SearchRequest,
    parse_query,
)

IDX = "/tmp/bleve_spark_writer_test_index"


def _mapping():
    m = IndexMapping(default_analyzer="standard", compose_all=True)
    m.add(FieldMapping("body"))
    return m


def _search_ids(spark, q):
    idx = SearchIndex(spark, IDX, _mapping())
    res = Searcher(idx).search(
        SearchRequest(query=parse_query(q), with_total=True)
    )
    return sorted(r["_id"] for r in res.hits.collect()), res.total


@pytest.fixture(scope="module")
def writer(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    return IndexWriter(spark, _mapping(), IDX)


def test_batch_index_and_search(spark, writer):
    writer.batch_index(
        spark.createDataFrame(
            [("a", "red fox runs"), ("b", "blue cow sleeps")],
            ["id", "body"],
        ),
        id_expr=F.col("id"),
    )
    ids, total = _search_ids(spark, {"field": "body", "term": "fox"})
    assert ids == ["a"] and total == 1


def test_second_batch_appends(spark, writer):
    writer.batch_index(
        spark.createDataFrame(
            [("c", "green fox naps"), ("d", "grey dog digs")],
            ["id", "body"],
        ),
        id_expr=F.col("id"),
    )
    ids, total = _search_ids(spark, {"field": "body", "term": "fox"})
    assert ids == ["a", "c"] and total == 2
    # doc_count spans both segments
    assert SearchIndex(spark, IDX, _mapping()).doc_count == 4


def test_upsert_supersedes_old_version(spark, writer):
    # re-index doc a with new content: old version must disappear
    writer.batch_index(
        spark.createDataFrame([("a", "red wolf howls")], ["id", "body"]),
        id_expr=F.col("id"),
    )
    ids, _ = _search_ids(spark, {"field": "body", "term": "fox"})
    assert ids == ["c"]  # old a is dead
    ids, _ = _search_ids(spark, {"field": "body", "term": "wolf"})
    assert ids == ["a"]
    assert SearchIndex(spark, IDX, _mapping()).doc_count == 4


def test_delete_tombstones(spark, writer):
    writer.delete(["d"])
    ids, total = _search_ids(spark, {"field": "body", "term": "dog"})
    assert ids == [] and total == 0
    assert SearchIndex(spark, IDX, _mapping()).doc_count == 3


def test_doc_added_after_delete_survives(spark, writer):
    writer.batch_index(
        spark.createDataFrame([("d", "grey dog returns")], ["id", "body"]),
        id_expr=F.col("id"),
    )
    ids, _ = _search_ids(spark, {"field": "body", "term": "dog"})
    assert ids == ["d"]
    assert SearchIndex(spark, IDX, _mapping()).doc_count == 4


def test_compact_preserves_results(spark, writer):
    before_fox, _ = _search_ids(spark, {"field": "body", "term": "fox"})
    before_dog, _ = _search_ids(spark, {"field": "body", "term": "dog"})
    writer.compact()
    idx = SearchIndex(spark, IDX, _mapping())
    assert len(idx._seg_metas) == 1
    assert idx.doc_count == 4
    after_fox, _ = _search_ids(spark, {"field": "body", "term": "fox"})
    after_dog, _ = _search_ids(spark, {"field": "body", "term": "dog"})
    assert after_fox == before_fox
    assert after_dog == before_dog
    # no dead docids remain; dictionary df no longer counts dead docs
    assert idx.deleted_docids is None


def test_snapshot_time_travel(spark):
    """version= opens a historical view — the rollback analogue
    (ref: index/scorch/rollback.go)."""
    import shutil as sh

    from pyspark.sql import functions as F

    path = "/tmp/bleve_spark_tt_index"
    sh.rmtree(path, ignore_errors=True)
    m = _mapping()
    from bleve_spark import IndexWriter

    w = IndexWriter(spark, m, path)
    w.batch_index(
        spark.createDataFrame([("a", "first era fox")], ["id", "body"]),
        id_expr=F.col("id"),
    )
    w.batch_index(
        spark.createDataFrame([("b", "second era owl")], ["id", "body"]),
        id_expr=F.col("id"),
    )
    w.delete(["a"])
    now = SearchIndex(spark, path, m)
    assert now.doc_count == 1  # a deleted
    past = SearchIndex(spark, path, m, version=0)
    assert past.doc_count == 1  # only segment 0, before the delete
    res = Searcher(past).search(
        SearchRequest(
            query=parse_query({"field": "body", "term": "fox"}),
            with_total=True,
        )
    )
    assert res.total == 1  # a alive in the old snapshot
    res2 = Searcher(past).search(
        SearchRequest(
            query=parse_query({"field": "body", "term": "owl"}),
            with_total=True,
        )
    )
    assert res2.total == 0  # b does not exist yet at seq 0


def test_plan_merges_tier_shapes():
    """Pure planner (ref mergeplan/merge_plan.go:67-135): over-full
    tiers merge their smallest members; big segments stay."""
    from bleve_spark.writer import MergePlanOptions, plan_merges

    opts = MergePlanOptions(
        max_segments_per_tier=3,
        segments_per_merge_task=3,
        floor_segment_size=10,
        tier_growth=10.0,
        max_segment_size=10_000,
    )
    # four tier-0 segments (over the 3 cap) + one tier-1 + one huge
    sizes = {0: 12, 1: 11, 2: 13, 3: 14, 4: 500, 5: 20_000}
    plans = plan_merges(sizes, opts)
    assert plans == [[1, 0, 2]]  # three smallest of tier 0, by live size
    # delete reclamation: a big segment with most docs dead falls into
    # the small tier and becomes mergeable
    plans2 = plan_merges(sizes, opts, dead_counts={4: 490})
    assert sorted(plans2[0]) == [0, 1, 4]
    # under-full tiers: no merges
    assert plan_merges({0: 12, 1: 11}, opts) == []


def test_tiered_merge_leaves_big_segment(spark):
    """maybe_merge() merges only the over-full small tier; the big
    segment's directory is untouched and results are unchanged."""
    import os

    from bleve_spark.writer import MergePlanOptions, segment_metas

    path = "/tmp/bleve_spark_tiered_test_index"
    shutil.rmtree(path, ignore_errors=True)
    w = IndexWriter(spark, _mapping(), path)
    # big segment: 60 docs
    w.batch_index(
        spark.createDataFrame(
            [(f"big{i}", f"common word{i % 7} text") for i in range(60)],
            ["id", "body"],
        ),
        id_expr=F.col("id"),
    )
    # four small segments: 3 docs each
    for k in range(4):
        w.batch_index(
            spark.createDataFrame(
                [(f"s{k}_{i}", f"small doc{k} common") for i in range(3)],
                ["id", "body"],
            ),
            id_expr=F.col("id"),
        )
    before = {m["seq"]: m for m in segment_metas(path)}
    assert len(before) == 5
    big_dir = before[0]["dir"]
    big_mtime = os.path.getmtime(os.path.join(big_dir, "docs"))

    def ids():
        idx = SearchIndex(spark, path, _mapping())
        res = Searcher(idx).search(
            SearchRequest(query=parse_query({"term": "common"}), size=100)
        )
        return sorted(r["_id"] for r in res.hits.collect())

    ids_before = ids()
    opts = MergePlanOptions(
        max_segments_per_tier=3,
        segments_per_merge_task=3,
        floor_segment_size=2,
        tier_growth=10.0,
    )
    plans = w.maybe_merge(opts)
    # the four 3-doc segments share a tier (floored 3 -> tier 0); the
    # 60-doc segment is tier 1 and stays
    assert len(plans) == 1 and len(plans[0]) == 3
    after = {m["seq"]: m for m in segment_metas(path)}
    assert 0 in after  # big segment retained...
    assert os.path.getmtime(os.path.join(big_dir, "docs")) == big_mtime
    assert len(after) == 3  # big + 1 small survivor + merged
    merged_seq = max(after)
    assert after[merged_seq]["docid_end"] - after[merged_seq]["docid_start"] == 9
    assert ids() == ids_before
    # next batch picks a fresh seq past the merged one
    w.batch_index(
        spark.createDataFrame([("zz", "common")], ["id", "body"]),
        id_expr=F.col("id"),
    )
    assert max(m["seq"] for m in segment_metas(path)) == merged_seq + 1
    assert "zz" in ids()


def test_rollback(spark):
    """Destructive rollback removes later segments + dead docids
    (ref: index/scorch/rollback.go); results equal the version=
    time-travel view of the same point."""
    path = "/tmp/bleve_spark_rollback_test_index"
    shutil.rmtree(path, ignore_errors=True)
    w = IndexWriter(spark, _mapping(), path)
    w.batch_index(
        spark.createDataFrame([("a", "alpha fox"), ("b", "beta fox")], ["id", "body"]),
        id_expr=F.col("id"),
    )
    w.batch_index(
        spark.createDataFrame([("a", "alpha cat")], ["id", "body"]),  # upsert a
        id_expr=F.col("id"),
    )
    w.delete(["b"])

    def ids():
        idx = SearchIndex(spark, path, _mapping())
        res = Searcher(idx).search(
            SearchRequest(query=parse_query({"term": "fox"}), size=10)
        )
        return sorted(r["_id"] for r in res.hits.collect())

    assert ids() == []  # a upserted to cat, b deleted
    assert w.rollback_points() == [0, 1, 2]
    # time-travel view at version 0 matches what rollback will restore
    tt = SearchIndex(spark, path, _mapping(), version=0)
    tt_ids = sorted(
        r["_id"]
        for r in Searcher(tt)
        .search(SearchRequest(query=parse_query({"term": "fox"}), size=10))
        .hits.collect()
    )
    w.rollback(0)
    assert ids() == ["a", "b"] == tt_ids
    with pytest.raises(ValueError):
        w.rollback(7)
