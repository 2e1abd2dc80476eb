"""Continuous ingestion: Structured Streaming -> index segments.

The reference is batch-only (its online path is Index/Batch calls,
/root/reference/index.go:45-61); the Spark-native generalization is a
stream of documents micro-batched into immutable segments via
foreachBatch — each micro-batch is exactly one IndexWriter.batch_index
call, so upsert/delete semantics, docid offsets, and snapshot
isolation are identical to the batch path, and the streaming checkpoint
makes ingestion exactly-once per micro-batch (a replayed batch is an
upsert of the same ids, so each doc stays visible once).

Scale shape: the streaming job runs beside query sessions; readers open
new SearchIndex snapshots to observe newly introduced segments (the
introducer analogue, /root/reference/index/scorch/introducer.go), and a
periodic compact() bounds segment counts like the reference's merger.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from .writer import IndexWriter


def stream_index(
    writer: IndexWriter,
    stream: DataFrame,
    id_expr=None,
    checkpoint: Optional[str] = None,
    trigger_available_now: bool = True,
    compact_every: int = 0,
    merge_opts=None,
):
    """Start a streaming query that indexes every micro-batch as one
    segment. Returns the StreamingQuery (caller awaits/stops it).

    compact_every: if > 0, run the TIERED merger (writer.maybe_merge,
    ref mergeplan) whenever the segment count reaches this bound —
    over-full tiers of small segments merge incrementally instead of
    rewriting the whole index per compaction. merge_opts overrides the
    MergePlanOptions.
    """
    if id_expr is None:
        id_expr = F.col("_id")

    def handle_batch(df: DataFrame, batch_id: int):
        if df.isEmpty():
            return
        writer.batch_index(df, id_expr=id_expr)
        if compact_every > 0:
            from .writer import MergePlanOptions, segment_metas

            if len(segment_metas(writer.index_path)) >= compact_every:
                writer.maybe_merge(merge_opts or MergePlanOptions())

    out = stream.writeStream.foreachBatch(handle_batch)
    if checkpoint:
        out = out.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        out = out.trigger(availableNow=True)
    return out.start()


def windowed_term_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    window: str = "1 hour",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
):
    """Watermarked windowed term frequencies over a document stream —
    the live 'trending terms' dictionary. Late rows within the
    watermark still update their window; older ones are dropped and
    the window state is reclaimed (bounded state at 100-TB stream
    scale). Pure built-ins: split/explode + window groupBy with
    map-side partial counts."""
    toks = (
        stream.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("term"),
        )
        .where(F.col("term") != "")
    )
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    return toks.groupBy(win.alias("win"), "term").count()


DEDUP_OUTPUT_SCHEMA = (
    "doc_id string, dup_of string, text_hash string, nth int"
)
DEDUP_STATE_SCHEMA = "first_id string, seen int"


def streaming_dedup(
    stream: DataFrame, text_col: str = "text", id_col: str = "doc_id"
):
    """Custom stateful operator (applyInPandasWithState): streaming
    exact-dedup. State per md5(text) content hash holds (first seen
    doc id, count); every later arrival with the same content emits a
    (doc_id, dup_of=first, nth) row in the same micro-batch. State is
    one tiny row per distinct content hash, partitioned by the hash —
    the streaming complement of ops.dedup.exact_groups for
    ingest-time filtering.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        first_id, seen = (
            state.get if state.exists else (None, 0)
        )
        out = []
        for pdf in pdfs:
            for doc_id in pdf[id_col].astype(str):
                if first_id is None:
                    first_id = doc_id
                    seen = 1
                else:
                    seen += 1
                    out.append((doc_id, first_id, key[0], seen))
        state.update((first_id, seen))
        yield pd.DataFrame(
            out, columns=["doc_id", "dup_of", "text_hash", "nth"]
        )

    # null-text rows pass through un-deduped: md5(NULL) is NULL and
    # would otherwise collapse every content-less doc into one group,
    # flagging unrelated docs as duplicates of each other
    hashed = stream.where(F.col(text_col).isNotNull()).withColumn(
        "text_hash", F.md5(F.col(text_col))
    )
    return hashed.groupBy("text_hash").applyInPandasWithState(
        fn,
        DEDUP_OUTPUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def has_tws_runtime() -> bool:
    """transformWithStateInPandas talks to the JVM state server over a
    protobuf protocol; the worker needs the `protobuf` python package
    (pyspark.sql.streaming.proto imports google.protobuf). Absent in
    this sandbox (no pip), present on any standard cluster image."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no `google` namespace package at all
        return False


try:  # class definition only needs the pure-python ABC, not protobuf
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ExactDedupProcessor(StatefulProcessor):
        """transformWithState exact-dedup processor — same semantics as
        streaming_dedup's applyInPandasWithState closure, on the newer
        engine-backed state API (SPARK-49564): named ValueState rows
        live in the RocksDB state store, and the runtime supports state
        -schema EVOLUTION (adding nullable fields) across restarts —
        the property the older API lacks.

        State v1 was (first_id); v2 appends a nullable `seen` count.
        `_read_state` tolerates v1 rows (seen=None -> 1) so a query
        checkpointed under the old schema resumes under the new one —
        exercised by the fake-harness test without the state server.
        """

        STATE_SCHEMA = "first_id string, seen int"

        def __init__(self, id_col: str = "doc_id"):
            self.id_col = id_col

        def init(self, handle: "StatefulProcessorHandle") -> None:
            self._state = handle.getValueState("dedup", self.STATE_SCHEMA)

        def _read_state(self):
            if not self._state.exists():
                return None, 0
            row = tuple(self._state.get())
            first_id = row[0]
            # v1 checkpoints carry no count column (schema evolution:
            # new nullable field reads back as None)
            seen = row[1] if len(row) > 1 and row[1] is not None else 1
            return first_id, seen

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            first_id, seen = self._read_state()
            out = []
            for pdf in rows:
                for doc_id in pdf[self.id_col].astype(str):
                    if first_id is None:
                        first_id, seen = doc_id, 1
                    else:
                        seen += 1
                        out.append((doc_id, first_id, key[0], seen))
            self._state.update((first_id, seen))
            yield pd.DataFrame(
                out, columns=["doc_id", "dup_of", "text_hash", "nth"]
            )

        def close(self) -> None:
            pass

except ImportError:  # pragma: no cover - pyspark<4 fallback
    ExactDedupProcessor = None


def streaming_dedup_tws(
    stream: DataFrame, text_col: str = "text", id_col: str = "doc_id"
):
    """streaming_dedup on transformWithStateInPandas (the successor
    state API): RocksDB-backed named state + schema evolution. Needs
    the RocksDB state store provider on the session::

        spark.sql.streaming.stateStore.providerClass =
          org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider

    Raises RuntimeError where the python `protobuf` package is missing
    (the worker-side state protocol needs it; see has_tws_runtime).
    """
    if ExactDedupProcessor is None:
        raise RuntimeError(
            "transformWithStateInPandas requires pyspark >= 4.0"
        )
    if not has_tws_runtime():
        raise RuntimeError(
            "transformWithStateInPandas needs the python 'protobuf' "
            "package (state-server protocol); unavailable in this "
            "environment — use streaming_dedup (applyInPandasWithState)"
        )
    hashed = stream.where(F.col(text_col).isNotNull()).withColumn(
        "text_hash", F.md5(F.col(text_col))
    )
    return hashed.groupBy("text_hash").transformWithStateInPandas(
        statefulProcessor=ExactDedupProcessor(id_col=id_col),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="None",
    )
