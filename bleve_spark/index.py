"""SearchIndex: read-side handle over the built index tables.

The reference's IndexSnapshot/TermFieldReader analogue
(/root/reference/index/scorch/snapshot_index.go:81): a set of co-versioned
parquet tables plus tiny driver-side caches (doc count, per-field stats,
per-term df lookups — the same two lookups bleve does per term at searcher
construction, /root/reference/search/searcher/search_term.go:57-70).

Driver-side pyarrow readers over the same files serve the search route
that starts no Spark job.
"""

from __future__ import annotations

import json
import os
from functools import cached_property
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import codec
from .mapping import IndexMapping

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("docid", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("length", T.IntegerType()),
    ]
)
SCORED_SCHEMA = "docid long, score double"
_STREAMS = ("docids_enc", "tfs_enc", "lens_enc", "pos_enc")


_U64_ZERO = np.uint64(0)

def _successor(prefix: str) -> Optional[str]:
    """The least string above every string that starts with `prefix`,
    or None when there is none (an empty or all-U+10FFFF prefix)."""
    p = prefix.rstrip("\U0010ffff")
    if not p:
        return None
    nxt = ord(p[-1]) + 1
    if 0xD800 <= nxt <= 0xDFFF:  # surrogates are not valid in UTF-8
        nxt = 0xE000
    return p[:-1] + chr(nxt)


def _decode_batch(pdf: "pd.DataFrame") -> Tuple["pd.DataFrame", Optional[np.ndarray]]:
    """Decode a whole batch of posting blocks with one varint pass per
    stream, no per-block Python dispatch; the driver readers and the
    Spark tasks both decode with it.

    LEB128 streams are self-delimiting, so the concatenation of every
    block's stream decodes to the concatenation of their values; block
    boundaries are recovered by counting terminator bytes (high bit
    clear) up to each block's byte offset. Docid gaps then need a
    *segmented* cumsum, done as one global cumsum minus each block's
    starting base — exact even if the global uint64 sum wraps, because
    the wrap cancels in the subtraction (mod-2^64 arithmetic) and every
    true within-block docid fits in 63 bits.

    This matters because expansion queries (prefix/wildcard/fuzzy over a
    code corpus) touch hundreds of thousands of near-singleton blocks;
    per-block numpy dispatch (~25us) was ~6 s of the 1-char-prefix
    benchmark, vs ~0.1 s batched.

    Returns (postings, positions). `postings` holds one row per posting:
    every column of `pdf` that is not an encoded stream (field, term,
    an expansion's df, ...) repeated per posting, then docid, tf and
    length. `positions` is None unless `pdf` carries pos_enc; then it is
    one flat int64 array in which posting i owns the next tf[i] values.
    A block's pos_enc is its docs' position streams back to back, so the
    batch's concatenated pos_enc is every posting's stream in row order
    and decodes in one call too; each stream's npos header must equal
    its posting's tf.
    """
    d_bufs = pdf["docids_enc"].tolist()
    B = len(d_bufs)
    d_cat = b"".join(d_bufs)
    stream = np.frombuffer(d_cat, dtype=np.uint8)
    ends_cum = np.cumsum((stream & 0x80) == 0)
    ofs_end = np.cumsum(
        np.fromiter((len(x) for x in d_bufs), dtype=np.int64, count=B)
    )
    # values-per-block; np.maximum guards zero-length buffers (an empty
    # block contributes 0 via the np.where, never indexes at -1)
    boundary = np.where(
        ofs_end > 0, ends_cum[np.maximum(ofs_end - 1, 0)], 0
    )
    counts = np.diff(np.concatenate(([0], boundary)))
    gaps = codec.varint_decode(d_cat)
    cs = np.cumsum(gaps, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    if cs.size:
        base = np.where(
            starts > 0, cs[np.maximum(starts - 1, 0)], _U64_ZERO
        )
    else:
        base = np.zeros(B, dtype=np.uint64)
    block_of = np.repeat(np.arange(B), counts)
    docids = (cs - base[block_of]).astype(np.int64)
    tfs = codec.varint_decode(b"".join(pdf["tfs_enc"].tolist()))
    lens = codec.varint_decode(b"".join(pdf["lens_enc"].tolist()))
    if not (len(tfs) == len(docids) == len(lens)):
        raise ValueError(
            "corrupt posting batch: stream lengths disagree "
            f"({len(docids)} docids, {len(tfs)} tfs, {len(lens)} lens)"
        )
    cols = {
        c: np.repeat(pdf[c].to_numpy(), counts)
        for c in pdf.columns
        if c not in _STREAMS
    }
    cols.update(docid=docids, tf=tfs.astype(np.int32), length=lens.astype(np.int32))
    positions = None
    if "pos_enc" in pdf:
        positions = codec.flat_positions(
            codec.varint_decode(b"".join(pdf["pos_enc"].tolist())), tfs
        )
    return pd.DataFrame(cols), positions


class SearchIndex:
    """Read-side snapshot handle: the docs, postings and dictionary
    tables of the segments of one committed log version, unioned, with
    dead docids masked — the IndexSnapshot + deleted-bitmap analogue
    (ref: index/scorch/snapshot_index.go:81, README.md:108-133). Doc
    count, field stats and the tbucket fanout come from the segments'
    add_segment actions, with no Spark job. A new SearchIndex instance
    = a new MVCC snapshot.

    The driver-side readers read the snapshot's parquet files with
    pyarrow filter pushdown and start no Spark job: `term_stats` and
    `prefix_terms` (dictionary slices summed over segments),
    `read_postings` (the terms' tbucket= dirs, decoded, dead docids
    dropped), `read_docs` (a docid-pruned page of stored fields),
    `live_docids`, `dead_docids` and `docs_schema`. The search route
    with no Spark job runs on them; the Spark route's term lookups use
    `term_stats` too."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        mapping: Optional[IndexMapping] = None,
        version: Optional[int] = None,
    ):
        """Pins the latest committed version of the index, or
        `version` — read-only time travel (ref: index/scorch/rollback.go).
        A version whose segments were merged away raises ValueError."""
        from .writer import read_snapshot

        self.spark = spark
        self.index_path = index_path
        self.mapping = mapping
        self._snap = read_snapshot(index_path, version)
        self._seg_metas = self._snap.metas()
        self._datasets: Dict[str, ds.Dataset] = {}
        self._term_stats_cache: Dict[Tuple[str, str], Optional[Tuple[int, int]]] = {}

    def _table(self, name: str) -> DataFrame:
        paths = [os.path.join(m["dir"], name) for m in self._seg_metas]
        if not paths:
            raise ValueError(
                f"{self.index_path} has no committed segment to read {name!r} from"
            )
        if name == "postings" and len(paths) > 1:
            # each segment's postings dir is its own partitionBy
            # (tbucket) root: a single multi-path read would try to
            # discover ONE partition scheme across conflicting roots
            # (CONFLICTING_DIRECTORY_STRUCTURES). Per-root scans
            # unioned keep per-scan partition pruning; tiered merging
            # bounds the segment count, so the union stays small.
            from functools import reduce

            dfs = [self.spark.read.parquet(p) for p in paths]
            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                dfs,
            )
        return self.spark.read.parquet(*paths)

    @cached_property
    def deleted_docids(self) -> Optional[DataFrame]:
        """Docids the snapshot's dead files name: older versions of
        upserted ids and deleted docs, resolved at commit time. The
        DataFrame the Spark route anti-joins; `dead_docids` is the same
        set as a driver-side array."""
        files = self._snap.dead_files()
        return self.spark.read.parquet(*files) if files else None

    @cached_property
    def docs(self) -> DataFrame:
        return self.live(self._table("docs"))

    @cached_property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @cached_property
    def tbuckets(self) -> Optional[int]:
        """Directory-pruning fanout, if EVERY segment's commit logs the
        SAME one (a segment with empty postings logs none). Otherwise
        the pruned path is off — correctness never depends on the
        layout."""
        ns = {m.get("tbuckets") for m in self._seg_metas}
        return ns.pop() if len(ns) == 1 else None

    @cached_property
    def dictionary(self) -> DataFrame:
        d = self._table("dictionary")
        if len(self._seg_metas) > 1:
            # per-segment dictionaries merge by summation. Like scorch,
            # df/cf still count dead docs until compaction
            # (deleted bitmaps do not rewrite dictionaries).
            d = d.groupBy("field", "term").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        return d

    @cached_property
    def doc_count(self) -> int:
        """Global N, live docs only (single-index semantics — the
        reference parity target, SURVEY.md §2.6 per-shard IDF caveat),
        from the commit log."""
        return sum(
            m["docid_end"] - m["docid_start"] - m["dead"] for m in self._seg_metas
        )

    @cached_property
    def field_stats(self) -> Dict[str, dict]:
        """Per-field doc_count / total_len / avg_len summed over the
        segments' commits (dead docs included, like the dictionary's
        df), with no Spark job."""
        totals: Dict[str, List[int]] = {}
        for m in self._seg_metas:
            if "fields" not in m:
                raise ValueError(
                    f"{m['dir']} was committed without field stats by an "
                    "older version; rebuild the index"
                )
            for fld, (n, total) in m["fields"].items():
                acc = totals.setdefault(fld, [0, 0])
                acc[0] += n
                acc[1] += total
        return {
            fld: {"doc_count": n, "total_len": total, "avg_len": total / n}
            for fld, (n, total) in totals.items()
        }

    def avg_len(self, field: str) -> float:
        st = self.field_stats.get(field)
        return float(st["avg_len"]) if st else 1.0

    # -- driver-side readers (pyarrow over the snapshot's files) --------

    def _dirs(self, name: str) -> List[Tuple[dict, str]]:
        """(segment meta, table dir) per segment of the snapshot."""
        if not self._seg_metas:
            raise ValueError(
                f"{self.index_path} has no committed segment to read {name!r} from"
            )
        return [(m, os.path.join(m["dir"], name)) for m in self._seg_metas]

    def _dataset(self, path: str) -> "ds.Dataset":
        """One parquet dataset per directory, listed once: the snapshot's
        files never change."""
        if path not in self._datasets:
            self._datasets[path] = ds.dataset(path, format="parquet")
        return self._datasets[path]

    @cached_property
    def dead_docids(self) -> np.ndarray:
        """Sorted docids the snapshot's dead files name, read once."""
        files = self._snap.dead_files()
        if not files:
            return np.empty(0, dtype=np.int64)
        return np.unique(pq.read_table(files, columns=["docid"])["docid"].to_numpy())

    def _dictionary_slice(self, field: str, cond) -> Tuple[List[str], np.ndarray, np.ndarray]:
        """(terms, df, cf) of the dictionary rows of `field` matching the
        pyarrow expression `cond` over `term`, summed over segments as
        `dictionary`'s groupBy sums them."""
        filt = (pc.field("field") == field) & cond
        table = pa.concat_tables(
            self._dataset(d).to_table(columns=["term", "df", "cf"], filter=filt)
            for _m, d in self._dirs("dictionary")
        )
        if len(self._seg_metas) > 1:
            table = table.group_by("term").aggregate(
                [("df", "sum"), ("cf", "sum")]
            ).rename_columns(["term", "df", "cf"])
        return (
            table["term"].to_pylist(),
            table["df"].to_numpy().astype(np.int64),
            table["cf"].to_numpy().astype(np.int64),
        )

    def term_stats(self, field: str, terms: Iterable[str]) -> Dict[str, Tuple[int, int]]:
        """term -> (df, cf); absent terms are left out. Equivalent of
        TermFieldReader.Count() (ref: search/searcher/search_term.go:57-64).
        Reads the segments' dictionary files with pyarrow, no Spark job,
        and memoizes per (field, term): planner phases re-resolve the
        same terms."""
        cache = self._term_stats_cache
        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if (field, t) not in cache]
        if missing:
            got, df, cf = self._dictionary_slice(
                field, pc.field("term").isin(missing)
            )
            found = {t: (int(a), int(b)) for t, a, b in zip(got, df, cf)}
            for t in missing:
                cache[(field, t)] = found.get(t)
        return {t: cache[(field, t)] for t in terms if cache[(field, t)] is not None}

    def prefix_terms(
        self, field: str, prefix: str, max_rows: int
    ) -> Optional[Tuple[List[str], np.ndarray]]:
        """(terms, df) of the dictionary slice `term` starting with
        `prefix`, read as the range prefix <= term < successor(prefix) so
        parquet row-group statistics prune it. None, with the slice left
        unread, when the segments hold `max_rows` or more of its rows: a
        count over the same filter bounds what the driver loads."""
        cond = pc.field("term") >= prefix
        upper = _successor(prefix)
        if upper is not None:
            cond = cond & (pc.field("term") < upper)
        filt = (pc.field("field") == field) & cond
        rows = sum(
            self._dataset(d).count_rows(filter=filt)
            for _m, d in self._dirs("dictionary")
        )
        if rows >= max_rows:
            return None
        terms, df, _cf = self._dictionary_slice(field, cond)
        return terms, df

    def read_postings(
        self,
        field: str,
        terms: Optional[Iterable[str]],
        need_positions: bool = False,
        docid: Optional[int] = None,
    ) -> Tuple["pd.DataFrame", Optional[np.ndarray]]:
        """Decoded live postings of (field, term in terms), or of every
        term of `field` when `terms` is None, as `_decode_batch` returns
        them: ((term, docid, tf, length) rows, flat positions or None).
        Lists only the terms' tbucket= dirs of each segment (a segment
        that logs no fanout, or a read of every term, lists them all)
        and drops the snapshot's dead docids. With `docid`, only that
        doc's postings, read from its posting block (docid >>
        BLOCK_SHIFT)."""
        from .build import BLOCK_SHIFT, tbucket_of

        cols = ["term", "docids_enc", "tfs_enc", "lens_enc"]
        if need_positions:
            cols.append("pos_enc")
        filt = pc.field("field") == field
        if terms is not None:
            terms = list(dict.fromkeys(terms))
            filt = filt & pc.field("term").isin(terms)
        if docid is not None:
            filt = filt & (pc.field("block") == docid >> BLOCK_SHIFT)
        parts = []
        for m, pdir in self._dirs("postings") if terms != [] else ():
            n = m.get("tbuckets")
            dirs = [pdir]
            if n and terms is not None:
                dirs = [
                    os.path.join(pdir, f"tbucket={b}")
                    for b in sorted({tbucket_of(field, t, n) for t in terms})
                ]
            parts.extend(
                self._dataset(d).to_table(columns=cols, filter=filt)
                for d in dirs
                if os.path.isdir(d)
            )
        if parts:
            blocks = pa.concat_tables(parts).to_pandas()
        else:
            blocks = pd.DataFrame({c: [] for c in cols}, dtype=object)
        postings, positions = _decode_batch(blocks)
        ids = postings["docid"].to_numpy()
        keep = np.ones(len(ids), dtype=bool) if docid is None else ids == docid
        if self.dead_docids.size:
            keep &= ~np.isin(ids, self.dead_docids)
        if keep.all():
            return postings, positions
        if positions is not None:
            positions = positions[np.repeat(keep, postings["tf"].to_numpy())]
        return postings[keep].reset_index(drop=True), positions

    def live_docids(self) -> np.ndarray:
        """Every live docid: each segment's [docid_start, docid_end)
        minus the dead ones."""
        ranges = [
            np.arange(m["docid_start"], m["docid_end"], dtype=np.int64)
            for m in self._seg_metas
        ]
        live = np.concatenate(ranges) if ranges else np.empty(0, np.int64)
        return np.setdiff1d(live, self.dead_docids, assume_unique=True)

    def read_docs(self, docids: np.ndarray, columns: Sequence[str]) -> "pa.Table":
        """`docid` plus `columns` of the docs rows of `docids` (sorted,
        unique), in docid order. Docs are written docid-sorted, so the
        docid range prunes files and row groups before the set filter."""
        # the first segment's schema types every column (the docs_schema
        # the local route checks `columns` against); a segment written
        # without one of them gives nulls, as Spark's read of `docs` does
        dirs = self._dirs("docs")
        first = self._dataset(dirs[0][1]).schema
        parts = [first.empty_table().select(["docid", *columns])]
        for m, d in dirs:
            lo, hi = np.searchsorted(docids, [m["docid_start"], m["docid_end"]])
            if hi <= lo:
                continue
            sub = docids[lo:hi]
            docid = pc.field("docid")
            filt = (docid >= int(sub[0])) & (docid <= int(sub[-1])) & docid.isin(sub)
            dset = self._dataset(d)
            have = [c for c in columns if c in dset.schema.names]
            parts.append(dset.to_table(columns=["docid", *have], filter=filt))
        table = pa.concat_tables(parts, promote_options="default")
        return table.take(pc.sort_indices(table["docid"]))

    @cached_property
    def docs_schema(self) -> T.StructType:
        """The Spark schema of `docs`, from the schema Spark wrote into
        the first segment's parquet footers; no Spark job."""
        arrow = self._dataset(self._dirs("docs")[0][1]).schema
        meta = arrow.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        return T.StructType.fromJson(json.loads(meta))

    def expansion(self, field: str, predicate) -> DataFrame:
        """Lazy dictionary slice (term, df) matching a Column predicate
        over `term` — the FieldDict automaton analogue (ref:
        index.go:230-232, snapshot_index_dict.go). Stays a DataFrame so
        multi-term queries never materialize the term list on the
        driver; the planner joins it to the postings scan."""
        return self.dictionary.where(
            (F.col("field") == field) & predicate
        ).select("term", "df")

    def expand_terms(
        self, field: str, predicate, limit: int = 1024
    ) -> List[Tuple[str, int]]:
        """Driver-side [(term, df)] enumeration, hard-capped at `limit`
        rows. Only for inherently driver-bounded consumers (highlight
        term sets over the k-row page); query planning uses the
        DataFrame-native expansion() instead."""
        rows = (
            self.expansion(field, predicate)
            .orderBy(F.desc("df"), "term")
            .limit(limit)
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    # -- postings ---------------------------------------------------------

    def blocks(self, field: str, terms: Iterable[str]) -> DataFrame:
        """Compressed posting blocks for (field, term in terms). With a
        tbucket layout the literal terms' buckets are derived driver-side
        (zlib.crc32, no Spark job) and become a PartitionFilter — the
        scan lists ~len(buckets)/n of the files instead of opening every
        footer; field/term predicates still push down for row-group
        skipping within the listed files."""
        terms = list(dict.fromkeys(terms))
        cond = (F.col("field") == field) & F.col("term").isin(terms)
        n = self.tbuckets
        if n and terms:
            from .build import tbucket_of

            bks = sorted({tbucket_of(field, t, n) for t in terms})
            cond = F.col("tbucket").isin(bks) & cond
        return self.postings.where(cond)

    def decoded(self, field: str, terms: Iterable[str]) -> DataFrame:
        """Live postings of (field, term in terms) as (field, term,
        docid, tf, length) rows, decoded by an Arrow-batched
        mapInPandas."""
        src = self.blocks(field, terms).select(
            "field", "term", "docids_enc", "tfs_enc", "lens_enc"
        )

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield _decode_batch(pdf)[0]

        return self.live(src.mapInPandas(gen, DECODED_SCHEMA))

    def scored(self, blocks: DataFrame, score, columns: Sequence[str] = ()) -> DataFrame:
        """DataFrame(docid, score) of posting blocks scored inside the
        Spark tasks with the driver route's numpy code: each Arrow batch
        of `blocks` decodes with `_decode_batch` and scores with
        `score(postings) -> float64 array`, and only (docid, score)
        leaves the task. `columns` are the other columns of `blocks`
        that `score` reads per posting (an expansion's df). `score`
        runs in the tasks, so it must not hold the Searcher or this
        index."""
        # project before mapInPandas, which defeats column pruning:
        # scoring must not read pos_enc (about half the postings bytes)
        src = blocks.select(*columns, "docids_enc", "tfs_enc", "lens_enc")

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    p, _ = _decode_batch(pdf)
                    yield pd.DataFrame(
                        {"docid": p["docid"].to_numpy(), "score": score(p)}
                    )

        return self.live(src.mapInPandas(gen, SCORED_SCHEMA))

    def live(self, df: DataFrame) -> DataFrame:
        """`df` (with a docid column) without the snapshot's dead
        docids — the deleted-roaring-bitmap analogue (scorch
        README:213-218)."""
        if self.deleted_docids is None:
            return df
        return df.join(self.deleted_docids, "docid", "left_anti")
