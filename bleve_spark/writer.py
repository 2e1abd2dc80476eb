"""Incremental write path: immutable segments published by one commit log.

Re-creates the reference's online index maintenance on top of the offline
builder (SURVEY.md §2.1/§2.3): `Batch`/`Index` appends become immutable
segments (/root/reference/index/scorch/scorch.go:365-443 — each batch
becomes a zap segment), `Delete` marks docids dead, masked at read time
(the deleted-roaring-bitmap analogue, index/scorch/README.md:108-133),
and maybe_merge()/compact() are the merger (index/scorch/merge.go).

Layout under index_path:
    _log/<version, 20 digits>.json   commit 0, 1, ...: the only record of
                                     what the index holds
    segments/seg-00000-<token>/      one segment (IndexBuilder): docs/,
                                     postings/ (partitionBy tbucket) and
                                     dictionary/
    dead/<token>.parquet             dead docids (docid long)

A commit is a JSON list of one-key actions: add_segment {seq, dir,
docid_start, docid_end, fields: {field: [doc_count, total_len]},
tbuckets: the postings fanout (absent when they are empty), and a bulk
build's fingerprint}, remove_segment {seq}, add_dead {path, counts:
{seq: dead docids in it}} and, for rollback, remove_dead {path}.
Replaying commits 0..v gives snapshot v (the IndexSnapshot analogue,
index/scorch/snapshot_index.go:81). A commit is published put-if-absent
(temp file, then os.link), so a crash leaves the old snapshot or the new
one and a writer that lost a race raises. It then deletes every segment
dir and dead file the new head does not reference, except that a commit
replacing every segment (IndexBuilder.build, compact()) leaves the files
it retired to the next commit, so a reader opened before it keeps
answering. Docids are never reused: a segment starts where the highest
range committed so far ended.

Visibility rule: a doc is dead iff a dead file of the snapshot names its
docid. Upsert and delete resolve `_id`s to the live docids of committed
segments: batch_index kills the older versions of its ids (duplicates
inside one batch both survive), delete kills every live version.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import BuildReport, IndexBuilder, _parquet_rows
from .index import SearchIndex
from .mapping import IndexMapping

SEG_PREFIX = "seg-"
LOG_DIR = "_log"
DEAD_DIR = "dead"


@dataclass
class MergePlanOptions:
    """ref: index/scorch/mergeplan/merge_plan.go:67-135
    (DefaultMergePlanOptions: MaxSegmentsPerTier 10, MaxSegmentSize 5M
    docs, TierGrowth 10x, FloorSegmentSize 2k,
    ReclaimDeletesWeight 2.0)."""

    max_segments_per_tier: int = 10
    max_segment_size: int = 5_000_000
    tier_growth: float = 10.0
    segments_per_merge_task: int = 10
    floor_segment_size: int = 2_000
    reclaim_deletes_weight: float = 2.0


def plan_merges(
    seg_sizes: Dict[int, int],
    opts: MergePlanOptions = MergePlanOptions(),
    dead_counts: Optional[Dict[int, int]] = None,
) -> List[List[int]]:
    """Pure tier planner: which segment seqs to merge together.

    Tier k covers live sizes [floor*growth^k, floor*growth^(k+1));
    sizes below the floor all share tier 0 (ref merge_plan.go
    ScoreSegments' floored size). A tier with more than
    max_segments_per_tier members yields a merge task of its smallest
    segments_per_merge_task members. Segments at or above
    max_segment_size never merge again. Delete-heavy segments count at
    their live size, so reclaiming deletes happens by construction
    (a mostly-dead big segment lands in a small tier and merges).
    """
    dead_counts = dead_counts or {}
    tiers: Dict[int, List[int]] = {}
    for seq, total in seg_sizes.items():
        live = max(total - dead_counts.get(seq, 0), 0)
        if live >= opts.max_segment_size:
            continue
        floored = max(live, opts.floor_segment_size)
        tier = int(
            math.log(floored / opts.floor_segment_size, opts.tier_growth)
        )
        tiers.setdefault(tier, []).append(seq)
    plans: List[List[int]] = []
    for tier, members in sorted(tiers.items()):
        if len(members) > opts.max_segments_per_tier:
            members = sorted(
                members,
                key=lambda s: seg_sizes[s] - dead_counts.get(s, 0),
            )
            # Accumulate smallest-first but stop before the merged
            # segment would exceed max_segment_size (ref merge_plan.go
            # skips candidate tasks whose summed live size busts
            # MaxSegmentSize) — otherwise one merge builds an oversize
            # segment that is then permanently exempt from merging.
            task: List[int] = []
            summed = 0
            for s in members:
                live = max(seg_sizes[s] - dead_counts.get(s, 0), 0)
                if task and summed + live > opts.max_segment_size:
                    break
                task.append(s)
                summed += live
                if len(task) >= opts.segments_per_merge_task:
                    break
            if len(task) >= 2:
                plans.append(task)
    return plans


@dataclass
class Snapshot:
    """One replayed log version: seq -> add_segment body, and dead file
    -> {seq: count}; paths are relative to `root`."""

    root: str
    version: int = -1
    segments: Dict[int, dict] = field(default_factory=dict)
    dead: Dict[str, Dict[int, int]] = field(default_factory=dict)
    next_seq: int = 0
    next_docid: int = 0

    @property
    def refs(self) -> set:
        return {m["dir"] for m in self.segments.values()} | set(self.dead)

    def metas(self) -> List[dict]:
        """Segments by seq, with an absolute `dir` and a `dead` count."""
        return [
            {**m, "dir": os.path.join(self.root, m["dir"]),
             "dead": sum(c.get(seq, 0) for c in self.dead.values())}
            for seq, m in sorted(self.segments.items())
        ]

    def dead_files(self) -> List[str]:
        return [os.path.join(self.root, p) for p in sorted(self.dead)]

    def files(self) -> List[str]:
        """Relative paths a copy needs: the log up to this version and
        the files it references."""
        return [_entry(v) for v in range(self.version + 1)] + sorted(self.refs)


def _entry(version: int) -> str:
    return os.path.join(LOG_DIR, f"{version:020d}.json")


def _replay(index_path: str) -> List[Snapshot]:
    """Every committed version, oldest first; [] without a log."""
    log = os.path.join(index_path, LOG_DIR)
    names = os.listdir(log) if os.path.isdir(log) else []
    snaps, s = [], Snapshot(index_path)
    for v in sorted(int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()):
        with open(os.path.join(index_path, _entry(v))) as f:
            actions = json.load(f)
        s = Snapshot(index_path, v, dict(s.segments), dict(s.dead),
                     s.next_seq, s.next_docid)
        for ((kind, a),) in (x.items() for x in actions):
            if kind == "add_segment":
                s.segments[a["seq"]] = a
                s.next_seq = max(s.next_seq, a["seq"] + 1)
                s.next_docid = max(s.next_docid, a["docid_end"])
            elif kind == "remove_segment":
                s.segments.pop(a["seq"], None)
            elif kind == "add_dead":
                s.dead[a["path"]] = {int(q): n for q, n in a["counts"].items()}
            elif kind == "remove_dead":
                s.dead.pop(a["path"], None)
            else:
                raise ValueError(f"{index_path}: unknown log action {kind!r}")
        s.dead = {p: c for p, c in s.dead.items() if s.segments.keys() & c}
        snaps.append(s)
    return snaps


def _restorable(snaps: List[Snapshot]) -> Dict[int, Snapshot]:
    """The versions whose files the head still holds."""
    keep = snaps[-1].refs if snaps else set()
    return {s.version: s for s in snaps if s.refs <= keep}


def read_snapshot(index_path: str, version: Optional[int] = None) -> Snapshot:
    """The head of the log, or `version`. A path with no commit reads
    as the empty snapshot, version -1."""
    snaps = _replay(index_path)
    if version is None:
        return snaps[-1] if snaps else Snapshot(index_path)
    points = _restorable(snaps)
    if version not in points:
        raise ValueError(
            f"cannot open version {version} of {index_path}: never committed, "
            f"or its segments were merged away; available: {sorted(points)}"
        )
    return points[version]


def segment_metas(index_path: str) -> List[dict]:
    """Head segments by seq: {seq, dir, docid_start, docid_end, dead}."""
    return read_snapshot(index_path).metas()


class IndexWriter:
    """ref: index.go:45-89 (Index/Delete/Batch) + scorch introducer.
    Every call writes its new files, then publishes one commit.

    One writer per index is supported. Of two writers that race, the
    loser raises when it publishes; but the winner's cleanup of
    unreferenced files may delete the loser's half-built segment before
    that."""

    def __init__(
        self, spark: SparkSession, mapping: IndexMapping, index_path: str
    ):
        self.spark = spark
        self.mapping = mapping
        self.index_path = index_path

    # -- internals -------------------------------------------------------

    def _build_segment(
        self, df: DataFrame, id_expr, seq: int, start: int,
        builder: Optional[IndexBuilder] = None,
    ):
        """Build `df` into a new segment dir at docid `start` with
        `builder` (default: a default IndexBuilder); returns its
        add_segment body and the build report."""
        rel = os.path.join("segments", f"{SEG_PREFIX}{seq:05d}-{uuid.uuid4().hex[:8]}")
        seg_dir = os.path.join(self.index_path, rel)
        builder = builder or IndexBuilder(self.spark, self.mapping, self.index_path)
        facts, report = builder.write_tables(df, id_expr, seg_dir, start)
        end = start + _parquet_rows(os.path.join(seg_dir, "docs"))
        return {"seq": seq, "dir": rel, "docid_start": start, "docid_end": end, **facts}, report

    def _replace_all(
        self, base: Snapshot, df: DataFrame, id_expr=None,
        builder: Optional[IndexBuilder] = None,
        fingerprint: Optional[str] = None,
    ) -> BuildReport:
        """Build `df` into one new segment and publish one commit that
        retires every segment of `base`: the bulk build and compact().
        The retired files outlive this commit's cleanup."""
        seg, report = self._build_segment(
            df, id_expr, base.next_seq, base.next_docid, builder
        )
        if fingerprint is not None:
            seg["fingerprint"] = fingerprint
        removes = [{"remove_segment": {"seq": s}} for s in base.segments]
        self._commit(base, removes + [{"add_segment": seg}], keep=frozenset(base.refs))
        return report

    def _kill(self, idx, ids) -> List[dict]:
        """The add_dead action for the live docids of snapshot `idx`
        whose _id is in `ids` (a list or an `_id` DataFrame), if any."""
        if not idx._snap.segments:
            return []
        docs = idx._table("docs")
        if isinstance(ids, DataFrame):
            docs = docs.join(ids, "_id", "left_semi")
        else:
            docs = docs.where(F.col("_id").isin(ids))
        files = idx._snap.dead_files()
        docids = np.setdiff1d(
            docs.select("docid").toPandas()["docid"].to_numpy(np.int64),
            pq.read_table(files)["docid"].to_numpy() if files else [],
        )
        if not docids.size:
            return []
        rel = os.path.join(DEAD_DIR, f"{uuid.uuid4().hex}.parquet")
        os.makedirs(os.path.join(self.index_path, DEAD_DIR), exist_ok=True)
        pq.write_table(pa.table({"docid": docids}), os.path.join(self.index_path, rel))
        counts = {}
        for seq, m in idx._snap.segments.items():
            lo, hi = np.searchsorted(docids, [m["docid_start"], m["docid_end"]])
            if hi > lo:
                counts[str(seq)] = int(hi - lo)
        return [{"add_dead": {"path": rel, "counts": counts}}]

    def _commit(
        self, base: Snapshot, actions: List[dict], keep: frozenset = frozenset()
    ) -> None:
        """Publish `actions` as the version after `base`, put-if-absent;
        the cleanup spares the relative paths in `keep`."""
        os.makedirs(os.path.join(self.index_path, LOG_DIR), exist_ok=True)
        tmp = os.path.join(self.index_path, LOG_DIR, f".tmp-{uuid.uuid4().hex}")
        try:
            with open(tmp, "w") as f:
                json.dump(actions, f)
                f.flush()
                os.fsync(f.fileno())
            os.link(tmp, os.path.join(self.index_path, _entry(base.version + 1)))
        except FileExistsError:
            raise RuntimeError(
                f"version {base.version + 1} of {self.index_path} was committed"
                " by another writer; nothing was published, retry the call"
            ) from None
        finally:
            os.remove(tmp)
        self._remove_orphans(keep)

    def _remove_orphans(self, keep: frozenset = frozenset()) -> None:
        """Delete every segment dir and dead file neither the head nor
        `keep` references: retired or rolled back, or left by a crashed
        call."""
        keep = read_snapshot(self.index_path).refs | keep
        for sub in ("segments", DEAD_DIR):
            root = os.path.join(self.index_path, sub)
            for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
                path = os.path.join(root, name)
                if os.path.join(sub, name) in keep:
                    continue
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)

    # -- public API ------------------------------------------------------

    def batch_index(self, df: DataFrame, id_expr=None) -> BuildReport:
        """Index a batch as a new immutable segment; existing docs with
        the same _id are superseded (upsert)."""
        idx = SearchIndex(self.spark, self.index_path, self.mapping)
        base = idx._snap
        seg, report = self._build_segment(df, id_expr, base.next_seq, base.next_docid)
        ids = self.spark.read.parquet(
            os.path.join(self.index_path, seg["dir"], "docs")
        ).select("_id")
        self._commit(base, [{"add_segment": seg}] + self._kill(idx, ids))
        return report

    def delete(self, ids) -> None:
        """Mark every live version of `ids` dead (ref: index.go:85-89)."""
        idx = SearchIndex(self.spark, self.index_path, self.mapping)
        if isinstance(ids, DataFrame):
            ids = ids.select(F.col(ids.columns[0]).cast("string").alias("_id"))
        else:
            ids = [str(i) for i in ids]
        self._commit(idx._snap, self._kill(idx, ids))

    def maybe_merge(
        self,
        opts: MergePlanOptions = MergePlanOptions(),
        searcher_index=None,
    ) -> List[List[int]]:
        """Tiered compaction (ref: index/scorch/merge.go +
        mergeplan/merge_plan.go): rebuild the LIVE docs of each over-full
        tier's smallest segments into one new segment, leaving big
        segments untouched (contrast compact()), all in one commit.
        Returns the executed merge plans (lists of retired seqs)."""
        idx = searcher_index or SearchIndex(self.spark, self.index_path, self.mapping)
        base = idx._snap
        metas = {m["seq"]: m for m in base.metas()}
        plans = plan_merges(
            {s: m["docid_end"] - m["docid_start"] for s, m in metas.items()},
            opts,
            {s: m["dead"] for s, m in metas.items()},
        )
        actions: List[dict] = []
        seq, start = base.next_seq, base.next_docid
        for seqs in plans:
            in_range = F.lit(False)
            for s in seqs:
                lo, hi = metas[s]["docid_start"], metas[s]["docid_end"]
                in_range |= (F.col("docid") >= lo) & (F.col("docid") < hi)
            live = idx.docs.where(in_range).drop("docid")
            seg, _ = self._build_segment(live, F.col("_id"), seq, start)
            actions += [{"remove_segment": {"seq": s}} for s in seqs]
            actions.append({"add_segment": seg})
            seq, start = seq + 1, seg["docid_end"]
        if plans:
            self._commit(base, actions)
        return plans

    def rollback_points(self) -> List[int]:
        """Versions rollback() can restore: every commit whose files the
        head still holds (ref: index/scorch/rollback.go RollbackPoints)."""
        return sorted(_restorable(_replay(self.index_path)))

    def rollback(self, version: int) -> None:
        """Restore `version` as a new commit (ref: rollback.go Rollback)
        that removes the segments and dead files committed since.
        Read-only time travel is SearchIndex(version=...)."""
        old = read_snapshot(self.index_path, version)
        head = read_snapshot(self.index_path)
        self._commit(
            head,
            [{"remove_segment": {"seq": s}} for s in head.segments.keys() - old.segments.keys()]
            + [{"remove_dead": {"path": p}} for p in head.dead.keys() - old.dead.keys()],
        )

    def compact(self, searcher_index=None) -> BuildReport:
        """Merge all segments minus dead docs into one fresh segment —
        the merger/mergeplan analogue collapsed to a single tier
        (ref: index/scorch/merge.go, mergeplan/merge_plan.go:67-135)."""
        idx = searcher_index or SearchIndex(self.spark, self.index_path, self.mapping)
        return self._replace_all(idx._snap, idx.docs.drop("docid"), F.col("_id"))
