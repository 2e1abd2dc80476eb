"""The index's commit log: each IndexWriter call and each bulk build
publishes one commit, a crash at any step of a call leaves either the
state before it or the state after it, and an open SearchIndex keeps
answering from the version it pinned (ref:
index/scorch/snapshot_index.go:81 — one immutable snapshot per
introduced segment set)."""

import os
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
from bleve_spark import writer as W
from bleve_spark.build import IndexBuilder
from bleve_spark.writer import MergePlanOptions

BASE = "/tmp/bleve_spark_commit_log_base"
WORK = "/tmp/bleve_spark_commit_log_work"
MERGE_ALL = MergePlanOptions(max_segments_per_tier=1)


def _mapping():
    m = IndexMapping(default_analyzer="standard", compose_all=False)
    m.add(FieldMapping("body"))
    return m


def _body(i):
    return f"doc{i} " + ("fox" if i % 3 == 0 else "cow")


# the base index: 40 docs, then 5 upserts plus 12 new docs, then 2
# deletes — 50 live docs, 5 of them superseded in an earlier segment
BATCH_A = {f"d{i:02d}": _body(i) for i in range(40)}
BATCH_B = {
    **{f"d{i:02d}": "upserted wolf" for i in range(5)},
    **{f"d{i:02d}": _body(i) for i in range(40, 52)},
}
DELETED = ["d10", "d45"]
MODEL = {
    k: v for k, v in {**BATCH_A, **BATCH_B}.items() if k not in DELETED
}
NEW = {"d06": "upserted fox", "n1": "new fox", "n2": "new cow"}


def _df(spark, docs):
    return spark.createDataFrame(sorted(docs.items()), ["id", "body"])


def _expected(model):
    ids = sorted(model)
    fox = sorted(k for k, v in model.items() if "fox" in v.split())
    return ids, len(ids), fox


def _state(idx):
    """Live _ids, doc_count and the hits of a term query."""
    ids = sorted(r["_id"] for r in idx.docs.select("_id").collect())
    res = Searcher(idx).search(
        SearchRequest(
            query=parse_query({"field": "body", "term": "fox"}), size=100
        )
    )
    return ids, idx.doc_count, sorted(r["_id"] for r in res.hits.collect())


def _unreferenced(path):
    refs = W.read_snapshot(path).refs
    on_disk = {
        os.path.join(sub, name)
        for sub in ("segments", "dead")
        if os.path.isdir(os.path.join(path, sub))
        for name in os.listdir(os.path.join(path, sub))
    }
    return on_disk - refs


@pytest.fixture(scope="module")
def base(spark):
    shutil.rmtree(BASE, ignore_errors=True)
    w = IndexWriter(spark, _mapping(), BASE)
    w.batch_index(_df(spark, BATCH_A), id_expr=F.col("id"))
    w.batch_index(_df(spark, BATCH_B), id_expr=F.col("id"))
    w.delete(DELETED)
    return BASE


def _copy(base, name):
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(base, path)
    return path


class Injected(Exception):
    pass


def _raise_after(real):
    def call(*args, **kwargs):
        real(*args, **kwargs)
        raise Injected("after " + real.__name__)

    return call


# op -> (call, model after it, segment count after it, where its new
# files are written)
OPS = {
    "batch_index": (
        lambda spark, w: w.batch_index(_df(spark, NEW), id_expr=F.col("id")),
        {**MODEL, **NEW},
        3,
        "build",
    ),
    "delete": (
        lambda spark, w: w.delete(["d09", "d40"]),
        {k: v for k, v in MODEL.items() if k not in ("d09", "d40")},
        2,
        "dead",
    ),
    "maybe_merge": (
        lambda spark, w: w.maybe_merge(MERGE_ALL),
        MODEL,
        1,
        "build",
    ),
    "compact": (lambda spark, w: w.compact(), MODEL, 1, "build"),
    # a bulk build of other docs over the base replaces all of it
    "build": (
        lambda spark, w: IndexBuilder(spark, _mapping(), w.index_path).build(
            _df(spark, NEW), id_expr=F.col("id")
        ),
        NEW,
        1,
        "build",
    ),
    "rollback": (lambda spark, w: w.rollback(0), BATCH_A, 1, "log"),
}


def _inject(monkeypatch, point, files):
    if point == "write":
        # raise once some, not all, of the call's new files are written
        if files == "build":
            target = (IndexBuilder, "_write")
        elif files == "dead":
            target = (W.pq, "write_table")
        else:  # the commit's own temp file
            target = (W.os, "fsync")
        monkeypatch.setattr(*target, _raise_after(getattr(*target)))
    elif point == "publish":

        def link(*_):
            raise Injected("at publish")

        monkeypatch.setattr(W.os, "link", link)
    else:
        # crash at the first directory deletion after the publish (os.link
        # here; a rename for a swap-based commit), or, when the cleanup
        # has nothing to delete, at its end
        published = []
        real_rmtree = shutil.rmtree
        real_cleanup = getattr(IndexWriter, "_remove_orphans", None)

        def publish(real):
            def call(*args, **kwargs):
                real(*args, **kwargs)
                published.append(real.__name__)

            return call

        def rmtree(*args, **kwargs):
            if published:
                raise Injected("at cleanup")
            real_rmtree(*args, **kwargs)

        def cleanup(self, *args):
            real_cleanup(self, *args)
            raise Injected("at cleanup end")

        monkeypatch.setattr(W.os, "link", publish(os.link))
        monkeypatch.setattr(W.os, "rename", publish(os.rename))
        monkeypatch.setattr(W.shutil, "rmtree", rmtree)
        monkeypatch.setattr(IndexWriter, "_remove_orphans", cleanup, raising=False)


@pytest.mark.parametrize("point", ["write", "publish", "cleanup"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_leaves_old_or_new_state(spark, base, monkeypatch, op, point):
    call, after, n_segments, files = OPS[op]
    path = _copy(base, f"{op}-{point}")
    w = IndexWriter(spark, _mapping(), path)
    with monkeypatch.context() as mp:
        _inject(mp, point, files)
        with pytest.raises(Injected):
            call(spark, w)
    # only a crash after the publish shows the call's effect
    model, segs = (after, n_segments) if point == "cleanup" else (MODEL, 2)
    idx = SearchIndex(spark, path, _mapping())
    assert _state(idx) == _expected(model)
    assert len(idx._seg_metas) == segs
    # the next commit deletes whatever the crash left behind
    w.delete(["no-such-id"])
    assert _unreferenced(path) == set()
    assert not [n for n in os.listdir(os.path.join(path, "_log")) if n.startswith(".")]
    assert _state(SearchIndex(spark, path, _mapping())) == _expected(model)


def test_open_reader_keeps_its_version(spark, base):
    path = _copy(base, "isolation")
    w = IndexWriter(spark, _mapping(), path)
    pinned = SearchIndex(spark, path, _mapping())  # not read until after
    read = SearchIndex(spark, path, _mapping())
    assert _state(read) == _expected(MODEL)
    w.batch_index(_df(spark, NEW), id_expr=F.col("id"))
    w.delete(["d09", "d40"])
    for idx in (pinned, read):
        assert _state(idx) == _expected(MODEL)
    post = {k: v for k, v in {**MODEL, **NEW}.items() if k not in ("d09", "d40")}
    assert _state(SearchIndex(spark, path, _mapping())) == _expected(post)
    # a writer whose base is no longer the head loses instead of
    # overwriting the newer commits
    with pytest.raises(RuntimeError, match="another writer"):
        w.maybe_merge(MERGE_ALL, searcher_index=pinned)
    assert _state(SearchIndex(spark, path, _mapping())) == _expected(post)
    w.maybe_merge(MERGE_ALL)
    assert _unreferenced(path) == set()
    # the merge deleted the pinned version's segments
    with pytest.raises(ValueError, match="merged away"):
        SearchIndex(spark, path, _mapping(), version=pinned._snap.version)
    assert _state(SearchIndex(spark, path, _mapping())) == _expected(post)


def test_open_reader_keeps_its_hits_across_a_rebuild(spark, base):
    path = _copy(base, "rebuild")
    pinned = SearchIndex(spark, path, _mapping())  # not read until after
    read = SearchIndex(spark, path, _mapping())
    assert _state(read) == _expected(MODEL)
    IndexBuilder(spark, _mapping(), path).build(
        _df(spark, NEW), id_expr=F.col("id")
    )
    for idx in (pinned, read):
        assert _state(idx) == _expected(MODEL)
    assert _state(SearchIndex(spark, path, _mapping())) == _expected(NEW)
    # the build's files are all the head holds once the next commit ran
    IndexWriter(spark, _mapping(), path).delete(["no-such-id"])
    assert _unreferenced(path) == set()


def test_path_with_no_commit_reads_as_empty(spark, tmp_path):
    path = str(tmp_path / "never-built")
    idx = SearchIndex(spark, path, _mapping())
    assert idx.doc_count == 0
    with pytest.raises(ValueError, match="never-built"):
        idx.docs
