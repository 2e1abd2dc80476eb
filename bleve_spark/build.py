"""Offline inverted-index build job.

Spark-first re-creation of the reference's offline Builder semantics
(/root/reference/index.go:301-310, index/scorch/builder.go:30-240):
analyze -> per-term posting lists -> merged, compressed segments. Instead
of batch-1000 + k-way merge, the plan is one declarative pipeline:

  corpus --(termfreq pandas UDF: per-doc map-side term aggregation)-->
  (docid, field, term, tf, len, positions) --(groupBy(field, term,
  docid-range block): the docid-range key IS the salt that defuses
  hot-term skew; every hot term spreads over ~N/2^shift reducers)-->
  delta+varint-compressed posting blocks with block-max metadata -->
  parquet tables {docs, postings, dictionary} in one new segment dir,
  published by one commit of the index's commit log (writer.py) — the
  same segment an IndexWriter batch writes. The analysis output is never
  stored: its per-field (doc_count, total_len) go into the commit.

Scale notes (100 TB / 1000 executors):
- exactly one wide shuffle over the exploded term rows (the block groupBy);
  the dictionary aggregates the much smaller block table and the field
  stats the one-per-(doc, field) length rows.
- docids are deterministic dense ranks over the _id sort key (two-pass
  range-partitioned ranking) — never monotonically_increasing_id — so
  output is rank-identical across cluster sizes (north rule).
- postings are written partitionBy(tbucket = crc32(field,term) % 16) and
  sorted by (term, block) within files, so a literal term lookup LISTS
  only 1/16 of the files (directory-level partition pruning) and row-group
  min/max on `term` prunes within them.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field as dc_field
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import codec
from .analysis.udfs import ANALYZED_ROW_SCHEMA, make_analyzed_rows_fn
from .mapping import IndexMapping

BLOCK_SHIFT = 10  # docid-range span per posting block = 1024

BLOCK_ENC_TYPE = T.StructType(
    [
        T.StructField("df_block", T.LongType()),
        T.StructField("cf_block", T.LongType()),
        T.StructField("min_docid", T.LongType()),
        T.StructField("max_docid", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_len", T.IntegerType()),
        T.StructField("max_len", T.IntegerType()),
        T.StructField("docids_enc", T.BinaryType()),
        T.StructField("tfs_enc", T.BinaryType()),
        T.StructField("lens_enc", T.BinaryType()),
        T.StructField("pos_enc", T.BinaryType()),
    ]
)


POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("block", T.LongType()),
    ]
    + BLOCK_ENC_TYPE.fields
)


def _encode_group(out, field, term, block, docids, tfs, lens, pos_bytes):
    """pos_bytes: per-doc already-varint-encoded [npos, p0, gaps...]
    streams — block pos_enc is just their concatenation."""
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    out["field"].append(field)
    out["term"].append(term)
    out["block"].append(block)
    out["df_block"].append(len(docids))
    out["cf_block"].append(int(tfs.sum()))
    out["min_docid"].append(int(docids[0]))
    out["max_docid"].append(int(docids[-1]))
    out["max_tf"].append(int(tfs.max()))
    out["min_len"].append(int(lens.min()))
    out["max_len"].append(int(lens.max()))
    out["docids_enc"].append(codec.delta_encode(docids))
    out["tfs_enc"].append(codec.varint_encode(tfs))
    out["lens_enc"].append(codec.varint_encode(lens))
    out["pos_enc"].append(b"".join(pos_bytes))


def _encode_sorted_stream(batches):
    """Streaming sort-based block encoder: consumes (docid, field, length,
    term, tf, positions) rows sorted by (field, term, block, docid) within
    the partition and emits one encoded row per (field, term, block).
    Carries the open group across Arrow batch boundaries — the Spark
    analogue of zapx's segment writer consuming a sorted term stream."""
    carry = None  # (field, term, block, [docids], [tfs], [lens], [pos])
    out = {k: [] for k in POSTINGS_SCHEMA.fieldNames()}

    def flush_rows():
        nonlocal out
        if out["field"]:
            df = pd.DataFrame(out)
            out = {k: [] for k in POSTINGS_SCHEMA.fieldNames()}
            return df
        return None

    def merge(seg_a, seg_b):
        return (
            np.concatenate([seg_a[0], seg_b[0]]),
            np.concatenate([seg_a[1], seg_b[1]]),
            np.concatenate([seg_a[2], seg_b[2]]),
            seg_a[3] + seg_b[3],
        )

    for pdf in batches:
        if len(pdf) == 0:
            continue
        fields = pdf["field"].to_numpy()
        terms = pdf["term"].to_numpy()
        blocks = pdf["block"].to_numpy()
        docids = pdf["docid"].to_numpy()
        tfs = pdf["tf"].to_numpy()
        lens = pdf["length"].to_numpy()
        poss = pdf["pos_enc"].to_numpy()
        # group boundaries via change detection (vectorized)
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = (
            (fields[1:] != fields[:-1])
            | (terms[1:] != terms[:-1])
            | (blocks[1:] != blocks[:-1])
        )
        starts = np.nonzero(change)[0]
        ends = np.append(starts[1:], len(pdf))
        groups = []
        for s, e in zip(starts, ends):
            groups.append(
                (
                    (fields[s], terms[s], int(blocks[s])),
                    (
                        docids[s:e],
                        tfs[s:e],
                        lens[s:e],
                        [p if p is not None else b"" for p in poss[s:e]],
                    ),
                )
            )
        if carry is not None:
            if groups and groups[0][0] == carry[0]:
                groups[0] = (carry[0], merge(carry[1], groups[0][1]))
            else:
                k, (d, t, l, p) = carry
                _encode_group(out, k[0], k[1], k[2], d, t, l, p)
            carry = None
        # every group except the last is complete within this batch
        for key, seg in groups[:-1]:
            _encode_group(out, key[0], key[1], key[2], *seg)
        if groups:
            carry = groups[-1]
        df = flush_rows()
        if df is not None:
            yield df
    if carry is not None:
        k, (d, t, l, p) = carry
        _encode_group(out, k[0], k[1], k[2], d, t, l, p)
    df = flush_rows()
    if df is not None:
        yield df


DOCID_BUCKETS_LOG2 = 12  # 4096 fixed hash-range buckets


def assign_docids(
    df: DataFrame, id_expr, n_partitions: Optional[int] = None,
    offset: int = 0, buckets_log2: int = DOCID_BUCKETS_LOG2,
) -> DataFrame:
    """Deterministic dense docid = `offset` + global rank over
    (bucket(_id), _id). `offset` gives incremental segments
    non-overlapping docid ranges (the analogue of scorch's snapshot
    offsets, /root/reference/index/scorch/snapshot_index.go:81,475-480).

    bucket(_id) = top `buckets_log2` bits of xxhash64(_id): FIXED,
    uniform range bounds over the hash space. Compared with
    repartitionByRange ranking this removes the sampling pass entirely
    (one fewer full read of the corpus — the RangePartitioner's
    reservoir sample touches every row) and makes the docid a pure
    function of the data: neither cluster size nor partition count nor
    data skew changes it (hashes are uniform by construction, so the
    2^buckets_log2 buckets are balanced without sampling). Cost: docids
    are hash-ordered, not _id-ordered, so stored-field fetch by _id no
    longer gets row-group pruning from _id ordering.

    Two jobs total: (exchange+sort+persist+per-bucket counts), then
    (assign+downstream write). Bucket-local ranks come from the sorted
    order within each bucket, which lives wholly inside one partition
    (partitioning is a function of the bucket key alone).
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    # 4x parallelism: docs parquet gets enough files that the downstream
    # analysis stage is well-balanced (stragglers dominate at 1 task/core)
    n_partitions = n_partitions or 4 * spark.sparkContext.defaultParallelism
    keyed = df.withColumn("_id", id_expr).withColumn(
        "__bucket",
        F.shiftrightunsigned(F.xxhash64(F.col("_id")), 64 - buckets_log2),
    )
    parted = keyed.repartition(n_partitions, F.col("__bucket"))
    # bucket-local rank, pure JVM (whole-stage codegen — the corpus
    # never crosses into Python here): the window's required
    # distribution matches the repartition, so no extra exchange
    local = (
        F.row_number().over(
            Window.partitionBy("__bucket").orderBy("_id")
        )
        - 1
    )
    # per-bucket start offsets = exclusive running sum of bucket counts
    # in bucket order. 2^buckets_log2 rows — a broadcast-sized side
    # plan whose exchange Catalyst reuses from the main branch, so the
    # whole assignment (counts + offsets + join + write) is ONE job.
    counts = parted.groupBy("__bucket").agg(F.count("*").alias("__cnt"))
    cum = Window.orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__bucket",
        (
            F.coalesce(F.sum("__cnt").over(cum), F.lit(0))
            + F.lit(int(offset))
        ).alias("__off"),
    )
    return (
        parted.join(F.broadcast(offsets), "__bucket")
        .withColumn("docid", F.col("__off") + local)
        .drop("__bucket", "__off")
    )


_BBOX_TYPE = T.StructType(
    [
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)


@F.pandas_udf(_BBOX_TYPE)
def _shape_bbox_udf(vals: pd.Series) -> pd.DataFrame:
    from . import geoshape as GS

    rows = []
    for v in vals:
        s = GS.shape_from_value(v)
        if s is None:
            rows.append((None, None, None, None))
        else:
            x1, y1, x2, y2 = s.bbox()
            rows.append((x1, y1, x2, y2))
    return pd.DataFrame(rows, columns=["minx", "miny", "maxx", "maxy"])


def _parquet_rows(path: str) -> int:
    """Row count from parquet footers — no Spark job. Walks into
    partition subdirectories (postings are partitionBy(tbucket))."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return total


# -- directory-level postings pruning ----------------------------------------
# Postings are written partitionBy(tbucket) where tbucket =
# crc32(field || \x00 || term) % TBUCKETS. A literal term lookup
# derives its bucket in pure Python (zlib.crc32 == Spark's crc32,
# CRC-32/ISO-HDLC) and filters on the partition column, so the scan
# LISTS only 1/n of the files — at 100k-file scale every other layout
# still opens every footer (the scorch analogue: each segment's FST
# dictionary keys the term lookup, index/scorch/snapshot_index.go:475).
# Within a bucket, files stay (field, term)-sorted so parquet row-group
# min/max stats skip as before.

TBUCKETS = 16


def tbucket_col(field_col, term_col, n: int):
    """JVM-side bucket expression (write path / DataFrame-native
    expansion joins)."""
    return F.pmod(
        F.crc32(
            F.concat_ws("\x00", field_col, term_col).cast("binary")
        ),
        F.lit(int(n)),
    ).cast("int")


def tbucket_of(field: str, term: str, n: int) -> int:
    """Driver-side bucket for a literal (field, term) — zlib.crc32 is
    bit-identical to Spark's crc32 for UTF-8 bytes."""
    import zlib

    return zlib.crc32(f"{field}\x00{term}".encode("utf-8")) % int(n)


@dataclass
class BuildReport:
    index_path: str
    stages: List[dict] = dc_field(default_factory=list)

    def add(self, stage: str, rows: int, wall_ms: float, detail: str = ""):
        self.stages.append(
            {
                "stage": stage,
                "rows": int(rows),
                "wall_ms": round(wall_ms, 1),
                "detail": detail,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )


class IndexBuilder:
    """Builds a corpus into one segment of the commit log under
    ``index_path`` (writer.py) and publishes it as one commit that
    retires every segment the head held — the reference's offline
    builder emits an ordinary segment set, not a second format
    (ref: index/scorch/builder.go).

    Segment tables: docs, postings, dictionary; per-field doc count
    and total length, and the postings' tbucket fanout, are facts of
    the segment's add_segment action (ref: a zap segment is a term
    dictionary, postings carrying freq and norm, and stored fields).
    (Persisted as parquet; on a production cluster these map 1:1 onto
    Iceberg tables and the commit log onto its snapshot log — the
    reference's introducer/persister analogue,
    ref: index/scorch/introducer.go.)
    """

    def __init__(
        self,
        spark: SparkSession,
        mapping: IndexMapping,
        index_path: str,
    ):
        self.spark = spark
        self.mapping = mapping
        self.index_path = index_path

    def _write(self, df: DataFrame, path: str, *partition_by: str):
        df.write.partitionBy(*partition_by).mode("overwrite").parquet(path)

    def _fine_splits(self, src: str):
        """Context manager: size input splits of the `src` table's files
        to >= 4 tasks per core for the enclosed action, then restore the
        session default. The heavy pandas/shuffle stages want fine,
        balanced splits even over a modest intermediate table; query-time
        scans in the same session keep the coarse default so tiny lookups
        stay a few tasks. At TB scale the computed split converges to the
        default."""
        import contextlib

        @contextlib.contextmanager
        def scoped():
            nbytes = sum(
                os.path.getsize(os.path.join(src, f))
                for f in os.listdir(src)
                if f.endswith(".parquet")
            )
            cores = self.spark.sparkContext.defaultParallelism
            split = max(1 << 20, nbytes // (4 * cores))
            key = "spark.sql.files.maxPartitionBytes"
            old = self.spark.conf.get(key)
            self.spark.conf.set(key, str(min(int(split), 128 << 20)))
            try:
                yield
            finally:
                self.spark.conf.set(key, old)

        return scoped()

    # -- build -------------------------------------------------------------

    def build(
        self,
        corpus: DataFrame,
        id_expr=None,
        resume: bool = True,
        fingerprint: Optional[str] = None,
    ) -> BuildReport:
        """Build `corpus` into a new segment and commit it in place of
        every segment the head held. With `resume`, a build whose
        fingerprint (by default: row count, columns, id expression and
        mapping) equals that of the head's single segment, none of whose
        docs were deleted since, publishes nothing; a segment committed
        without field stats is always rebuilt."""
        from .writer import IndexWriter, read_snapshot

        base = read_snapshot(self.index_path)
        if not resume:
            fingerprint = None
        elif fingerprint is None:
            fingerprint = (
                f"n={corpus.count()};cols={sorted(corpus.columns)};"
                f"id={'_id' if id_expr is None else id_expr};"
                f"mapping={json.dumps(self.mapping.to_dict(), sort_keys=True)}"
            )
        built = [
            m.get("fingerprint") if "fields" in m else None
            for m in base.segments.values()
        ]
        if fingerprint is not None and built == [fingerprint] and not base.dead:
            report = BuildReport(self.index_path)
        else:
            report = IndexWriter(self.spark, self.mapping, self.index_path)._replace_all(
                base, corpus, id_expr, self, fingerprint
            )
        # persist the mapping (the index_meta.json analogue) so tools
        # reopening the index see the REAL mapping, not a preset guess
        with open(os.path.join(self.index_path, "_MAPPING.json"), "w") as f:
            json.dump(self.mapping.to_dict(), f)
        return report

    def write_tables(
        self, corpus: DataFrame, id_expr, seg_dir: str, docid_start: int
    ) -> Tuple[dict, BuildReport]:
        """Write the segment tables of `corpus` under `seg_dir`, docids
        from `docid_start`; publishing the segment is the caller's.
        Returns the segment's facts for its add_segment action —
        `fields` {field: [doc_count, total_len]} and, unless the
        postings are empty, `tbuckets` — and the build report."""
        report = BuildReport(seg_dir)
        spark = self.spark

        def at(name: str) -> str:
            return os.path.join(seg_dir, name)

        # stage 1: docs (deterministic docids + stored plane) --------------
        t0 = time.time()
        if id_expr is None:
            id_expr = F.col("_id")
        # _id is always a string (bleve doc ids are strings;
        # ref: index.go Index(id string, ...)). Casting here keeps
        # _idh = xxhash64(string) consistent with document()'s
        # xxhash64(lit(str(doc_id))) probe — xxhash64 over an int
        # column hashes the raw long bytes and would never match.
        keyed = corpus.withColumn("_id", id_expr.cast("string"))
        # stored plane = the corpus columns themselves (docvalues
        # too); _idh and the mapping-derived helper columns
        # (geoshape __bbox, vector __buckets) are re-derived, never
        # carried (rebuild inputs from compact()/merge include them
        # — carrying __buckets would collide with the rename below)
        derived = {
            f"{fm.name}__bbox"
            for fm in self.mapping.fields.values()
            if fm.type == "geoshape"
        } | {
            f"{fm.name}__buckets"
            for fm in self.mapping.fields.values()
            if fm.type == "vector"
        }
        stored = [
            c
            for c in corpus.columns
            if c not in ("_id", "_idh") and c not in derived
        ]
        # One content shuffle total: the whole corpus goes through the
        # two-pass range ranking (sample -> range exchange on _id ->
        # per-partition counts -> offset+local index). The output is
        # _id/docid-sorted across 4-tasks-per-core partitions, so (a)
        # the downstream analysis stage load-balances instead of
        # inheriting the input's row-group layout, and (b) query-time
        # stored-field fetches get row-group min/max pruning on docid.
        out_parts = max(
            4 * self.spark.sparkContext.defaultParallelism,
            corpus.rdd.getNumPartitions(),
        )
        docs = assign_docids(
            keyed, F.col("_id"), n_partitions=out_parts, offset=docid_start,
        )
        # backtick-quote: dotted-path field names (flattened nested
        # fields, e.g. manages.reports) are plain column names here
        sel = docs.select(
            "docid",
            "_id",
            # _idh: stored-fetch pruning key. docs are written in
            # (hash-bucket, _id) order, so row groups hold narrow
            # _idh ranges; Document(id) filters on _idh and gets
            # parquet min/max pruning that plain _id (hash-shuffled
            # across the file) cannot provide
            F.xxhash64(F.col("_id")).alias("_idh"),
            *[F.col(f"`{c}`") for c in stored],
        )
        # geoshape fields get a bbox struct column — the native
        # prefilter the query side prunes with (the s2
        # covering-token analogue; see geoshape.py)
        for fm in self.mapping.fields.values():
            if fm.type == "geoshape" and fm.name in sel.columns:
                src_col = F.col(fm.name)
                if isinstance(
                    sel.schema[fm.name].dataType, T.StructType
                ):
                    src_col = F.to_json(src_col)
                sel = sel.withColumn(
                    f"{fm.name}__bbox", _shape_bbox_udf(src_col)
                )
            # vector fields get a precomputed multi-table LSH
            # bucket column — the kNN route's native prefilter: at
            # query time candidate selection is a JVM bitcount
            # filter over these ints instead of a per-query matmul
            # pass over every vector (BASELINE.md round-3 study)
            if fm.type == "vector" and fm.name in sel.columns:
                from .mapping import validate_vector_field
                from .ops.similarity import lsh_bucket_tables

                # normalize + validate here too: mappings built via
                # IndexMapping(fields={...}) bypass add()'s check
                validate_vector_field(fm)

                # explicit dims wins (reference semantics); else
                # infer as max over non-null rows, not first(): a
                # null first row must not silently disable bucket
                # persistence
                d = fm.dims
                if not d:
                    row = corpus.agg(
                        F.max(F.size(F.col(fm.name))).alias("d")
                    ).first()
                    if row is not None and row["d"] is not None:
                        d = int(row["d"])
                if d and d > 0:
                    sel = lsh_bucket_tables(
                        sel, d, vec_col=fm.name
                    ).withColumnRenamed(
                        "buckets", f"{fm.name}__buckets"
                    )
        self._write(sel, at("docs"))
        report.add("docs", _parquet_rows(at("docs")), (time.time() - t0) * 1e3)

        docs = spark.read.parquet(at("docs"))

        # stage 2: analyze and encode postings ----------------------------
        # ALL text fields analyzed in ONE mapInPandas pass over docs,
        # persisted for its two readers (postings and the field stats);
        # per-doc term aggregation happens inside the UDF (map-side, ref
        # analysis/freq.go:21-70) and positions are delta+varint encoded
        # at the source, so the output is flat scalar columns — no nested
        # Arrow structs anywhere. The `_all` composite (ref
        # document/field_composite.go:103-131) is merged in the same
        # pass. Each (doc, field) also emits one term=NULL length row.
        text_fields = self.mapping.text_fields()
        t0 = time.time()
        # dotted-path fields ride through mapInPandas under shielded
        # column names; postings keep the user-facing dotted name
        safe = {
            c: c.replace(".", "\x01") for c in docs.columns if "." in c
        }
        docs_in = docs.withColumnsRenamed(safe) if safe else docs
        field_analyzers = [
            (
                safe.get(fm.name, fm.name),
                self.mapping.analyzer_for(fm.name),
                fm.name,
            )
            for fm in text_fields
        ]
        compose = (
            frozenset(
                fm.name for fm in text_fields if fm.include_in_all
            )
            if self.mapping.compose_all
            else None
        )
        analyzed = docs_in.mapInPandas(
            make_analyzed_rows_fn(field_analyzers, compose),
            ANALYZED_ROW_SCHEMA,
        ).persist()
        facts = {}
        try:
            rows = analyzed.where(F.col("term").isNotNull())

            # ONE wide shuffle: hash-partition by (field, term, BLOCK) —
            # the docid-range block key IS the salt that defuses hot-term
            # skew (module docstring): a df≈N term's postings spread over
            # ~N/2^shift reducers instead of landing on one. Each
            # (field, term, block) group is complete within its partition
            # (hash on all three keys), so the streaming encoder emits
            # exactly one posting row per group; scan pruning comes from
            # the tbucket directory layout + row-group min/max, not from
            # file contiguity.
            nbuckets = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            sorted_rows = (
                rows.withColumn("block", F.shiftright(F.col("docid"), BLOCK_SHIFT))
                .repartition(nbuckets, "field", "term", "block")
                .sortWithinPartitions("field", "term", "block", "docid")
            )
            # directory-level pruning: partition the (few) encoded block
            # rows by term bucket. The local re-sort puts tbucket first
            # so the dynamic-partition writer's required ordering is
            # already satisfied (no extra sort) and files stay (field,
            # term)-sorted within each bucket for row-group min/max
            # skipping.
            blocks = (
                sorted_rows.mapInPandas(_encode_sorted_stream, POSTINGS_SCHEMA)
                .withColumn(
                    "tbucket", tbucket_col(F.col("field"), F.col("term"), TBUCKETS)
                )
                .sortWithinPartitions("tbucket", "field", "term", "block")
            )
            pdir = at("postings")
            with self._fine_splits(at("docs")):
                self._write(blocks, pdir, "tbucket")
            if any(f.endswith(".parquet") for _r, _d, fs in os.walk(pdir) for f in fs):
                facts["tbuckets"] = TBUCKETS
            else:
                # empty postings (vector/geo/numeric-only index): a
                # partitionBy write of 0 rows emits NO files, which a
                # later read cannot infer a schema from — write the flat
                # empty parquet (one 0-row footer file)
                self._write(spark.createDataFrame([], POSTINGS_SCHEMA), pdir)
            report.add("postings", _parquet_rows(pdir), (time.time() - t0) * 1e3)

            # stage 3: field stats, from the length rows, kept in the
            # segment's commit (doc count and docid range are there too)
            t0 = time.time()
            lengths = (
                analyzed.where(F.col("term").isNull())
                .groupBy("field")
                .agg(F.count("*").alias("n"), F.sum("length").alias("total"))
                .collect()
            )
            facts["fields"] = {
                r["field"]: [int(r["n"]), int(r["total"])] for r in lengths
            }
            report.add("stats", len(lengths), (time.time() - t0) * 1e3)
        finally:
            analyzed.unpersist()

        # stage 4: dictionary (from block rows — small relative to terms) --
        t0 = time.time()
        dictionary = spark.read.parquet(pdir).groupBy("field", "term").agg(
            F.sum("df_block").alias("df"), F.sum("cf_block").alias("cf")
        )
        self._write(
            dictionary.repartition(8, "field").sortWithinPartitions("field", "term"),
            at("dictionary"),
        )
        report.add(
            "dictionary", _parquet_rows(at("dictionary")), (time.time() - t0) * 1e3
        )
        return facts, report


def drop_index(index_path: str):
    shutil.rmtree(index_path, ignore_errors=True)
