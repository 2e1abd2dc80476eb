"""Top-level Index facade mirroring the reference's Index interface
(/root/reference/index.go:208-252: Index/Delete/Batch/Document/DocCount/
Search/Fields/FieldDict{Range,Prefix}/Close/CopyTo) over the segmented
write path + snapshot reader.

Spark-first shape: `batch()` is the primary ingestion call (every batch
becomes one immutable segment); `index()` (single doc) exists for API
parity but creates a one-doc segment — batch or compact afterwards, as
the reference's own docs advise batching for throughput
(ref: index.go:45-61 Batch)."""

from __future__ import annotations

import os
import shutil
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .index import SearchIndex
from .mapping import IndexMapping
from .search import Searcher, SearchRequest, SearchResult
from .writer import IndexWriter, read_snapshot


class Index:
    """ref: index.go:208-252."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        mapping: Optional[IndexMapping] = None,
    ):
        self.spark = spark
        self.index_path = index_path
        if mapping is None:
            # reopen with the persisted mapping when one exists (the
            # index_meta.json analogue, ref: index_meta.go)
            mapping = self._load_mapping(index_path) or IndexMapping()
        self.mapping = mapping
        self.writer = IndexWriter(spark, self.mapping, index_path)
        self._snapshot: Optional[SearchIndex] = None
        self._closed = False

    @staticmethod
    def _mapping_path(index_path: str) -> str:
        return os.path.join(index_path, "_MAPPING.json")

    @staticmethod
    def _load_mapping(index_path: str) -> Optional[IndexMapping]:
        import json

        try:
            with open(Index._mapping_path(index_path)) as f:
                return IndexMapping.from_dict(json.load(f))
        except (OSError, ValueError):
            return None

    def _persist_mapping(self):
        import json

        os.makedirs(self.index_path, exist_ok=True)
        with open(self._mapping_path(self.index_path), "w") as f:
            json.dump(self.mapping.to_dict(), f)

    # -- snapshots -------------------------------------------------------

    def reader(self) -> SearchIndex:
        """Current MVCC snapshot (ref: Index.Reader / scorch snapshot);
        refreshed after every write."""
        self._check_open()
        if self._snapshot is None:
            self._snapshot = SearchIndex(
                self.spark, self.index_path, self.mapping
            )
        return self._snapshot

    def _invalidate(self):
        self._snapshot = None

    def _check_open(self):
        if self._closed:
            raise RuntimeError("index is closed")

    # -- writes ----------------------------------------------------------

    def batch(self, docs, id_field: str = "_id"):
        """Index a batch of documents atomically (one segment).
        `docs` is a DataFrame or a list of dicts containing `id_field`."""
        self._check_open()
        if not isinstance(docs, DataFrame):
            docs = self.spark.createDataFrame(docs)
        if self.mapping.dynamic:
            # dynamic inference: unmapped string columns become text
            # fields with the default analyzer (ref:
            # mapping/document.go:427-437 strings -> text)
            from pyspark.sql import types as T

            from .mapping import FieldMapping

            for f in docs.schema.fields:
                if (
                    f.name not in ("_id", id_field)
                    and isinstance(f.dataType, T.StringType)
                    and f.name not in self.mapping.fields
                ):
                    self.mapping.add(FieldMapping(f.name))
        self._persist_mapping()
        self.writer.batch_index(docs, id_expr=F.col(id_field))
        self._invalidate()

    def index(self, doc_id: str, doc: Dict):
        """Single-document convenience (ref: index.go:213-217)."""
        self.batch([{**doc, "_id": str(doc_id)}])

    def delete(self, doc_id) -> None:
        """ref: index.go:85-89."""
        self._check_open()
        ids = doc_id if isinstance(doc_id, (list, tuple)) else [doc_id]
        self.writer.delete([str(i) for i in ids])
        self._invalidate()

    def compact(self):
        self._check_open()
        self.writer.compact(self.reader())
        self._invalidate()

    # -- reads -----------------------------------------------------------

    def search(self, req: SearchRequest) -> SearchResult:
        self._check_open()
        return Searcher(self.reader()).search(req)

    def doc_count(self) -> int:
        """ref: index.go:219 DocCount (live docs)."""
        return self.reader().doc_count

    def document(self, doc_id: str) -> Optional[Dict]:
        """Stored-field fetch (ref: index_impl.go:319-368). When the
        index carries the `_idh` pruning column (docs are written in
        hash order), the lookup filters on it first so parquet
        row-group min/max stats prune the scan."""
        docs = self.reader().docs
        pred = F.col("_id") == str(doc_id)
        if "_idh" in docs.columns:
            pred = (
                F.col("_idh") == F.xxhash64(F.lit(str(doc_id)))
            ) & pred
        rows = (
            docs.where(pred)
            .orderBy(F.desc("docid"))  # newest version wins
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        d = rows[0].asDict(recursive=True)
        d.pop("docid", None)
        d.pop("_idh", None)
        # build-time helper columns (geoshape bbox prefilter, vector
        # LSH buckets) are index internals, not stored fields — only
        # strip the names OUR builder derives, never same-suffixed
        # user columns
        for fm in self.mapping.fields.values():
            if fm.type == "geoshape":
                d.pop(f"{fm.name}__bbox", None)
            elif fm.type == "vector":
                d.pop(f"{fm.name}__buckets", None)
        return d

    def fields(self) -> List[str]:
        """Indexed field names (ref: index.go:228)."""
        return sorted(self.reader().field_stats)

    def field_dict(self, field: str) -> DataFrame:
        """Sorted term dictionary (term, df, cf) for a field
        (ref: index.go:230 FieldDict)."""
        return (
            self.reader()
            .dictionary.where(F.col("field") == field)
            .select("term", "df", "cf")
            .orderBy("term")
        )

    def field_dict_prefix(self, field: str, prefix: str) -> DataFrame:
        """ref: index.go:232 FieldDictPrefix."""
        return self.field_dict(field).where(
            F.col("term").startswith(prefix)
        )

    def field_dict_range(self, field: str, start: str, end: str) -> DataFrame:
        """Terms in [start, end) (ref: index.go:231 FieldDictRange)."""
        return self.field_dict(field).where(
            (F.col("term") >= start) & (F.col("term") < end)
        )

    # -- lifecycle -------------------------------------------------------

    def copy_to(self, dest_path: str):
        """Online backup: copy the current log version, the segments and
        dead files it references, and the persisted mapping (ref:
        index.go:314-318 CopyTo; on Iceberg this is a snapshot export)."""
        self._check_open()
        names = read_snapshot(self.index_path).files()
        if os.path.exists(self._mapping_path(self.index_path)):
            names.append("_MAPPING.json")
        for name in names:
            src = os.path.join(self.index_path, name)
            dst = os.path.join(dest_path, name)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.isdir(src):
                shutil.copytree(src, dst, dirs_exist_ok=True)
            else:
                shutil.copy2(src, dst)

    def close(self):
        """ref: index.go:226 Close — further calls error."""
        self._closed = True
        self._snapshot = None
