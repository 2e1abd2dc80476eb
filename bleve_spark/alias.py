"""IndexAlias: scatter-gather search over several indexes.

Re-creates the reference's alias MultiSearch
(/root/reference/index_alias_impl.go:152-169,442-560): fan the request
out to every child index, merge the per-child top pages, re-sort, trim.
Faithful to the per-shard-IDF caveat (SURVEY.md §2.6): each child scores
with its OWN doc count / term stats, exactly like bleve's alias — so
alias scores can differ from a single merged index's scores, as they do
in the reference.

In Spark the children's plans execute as independent DataFrame jobs whose
pages are tiny; the merge is a unionByName + orderBy + limit on k*children
rows (the analogue of the reference's in-memory hit merge,
index_alias_impl.go:506-525)."""

from __future__ import annotations

from dataclasses import replace
from typing import Sequence

from pyspark.sql import functions as F

from .search import (
    SearchRequest,
    SearchResult,
    Searcher,
    _keyset_pred,
    _order_col,
    _parse_sort_specs,
)


class IndexAlias:
    """ref: index.go IndexAlias interface + index_alias_impl.go.

    The children share one SparkSession, so their pages merge as one
    lazy union that a single Spark action evaluates, in place of the
    reference's goroutine per child (index_alias_impl.go:152-169)."""

    def __init__(self, searchers: Sequence[Searcher]):
        if not searchers:
            raise ValueError("alias needs at least one child index")
        self.searchers = list(searchers)

    def add(self, s: Searcher) -> "IndexAlias":
        self.searchers.append(s)
        return self

    def search(self, req: SearchRequest) -> SearchResult:
        # each child returns its own top-(from+size) page; the merge
        # re-sorts and trims (ref: index_alias_impl.go:475-540). Children
        # fetch from+size because the global page may come entirely from
        # one child; the global from-offset applies after the merge.
        # the merge re-sorts on the request's sort fields, so every child
        # page must carry them as stored fields
        sort_fields = [
            s["field"]
            for s in _parse_sort_specs(req.sort)
            if s["by"] == "field"
        ]
        child_fields = list(
            dict.fromkeys(list(req.fields) + sort_fields)
        )
        child_req = replace(
            req, from_=0, size=req.from_ + req.size, fields=child_fields
        )
        results = [s.search(child_req) for s in self.searchers]
        merged = results[0].hits
        for r in results[1:]:
            merged = merged.unionByName(r.hits, allowMissingColumns=True)

        specs = _parse_sort_specs(req.sort)
        key_cols = [
            self.searchers[0]._sort_key_col(sp, merged) for sp in specs
        ]
        sort_cols = [
            _order_col(c, sp["desc"], sp["missing"])
            for c, sp in zip(key_cols, specs)
        ]
        if req.search_before is not None:
            # reverse-execute the merge then restore order, mirroring
            # Searcher.search (ref: index_impl.go:448-461)
            merged = merged.where(
                _keyset_pred(specs, key_cols, req.search_before, flip=True)
            )
            flipped = [
                _order_col(
                    c,
                    not sp["desc"],
                    "first" if sp["missing"] == "last" else "last",
                )
                for c, sp in zip(key_cols, specs)
            ]
            page = merged.orderBy(*flipped).limit(req.size)
            page = page.orderBy(*sort_cols)
            total = (
                sum(r.total or 0 for r in results)
                if req.with_total
                else None
            )
            return SearchResult(
                hits=page, facets={}, total=total
            )
        if req.search_after is not None:
            merged = merged.where(
                _keyset_pred(specs, key_cols, req.search_after)
            )
        page = merged.orderBy(*sort_cols)
        if req.from_ > 0:
            from pyspark.sql import Window

            page = (
                page.withColumn(
                    "_rn", F.row_number().over(Window.orderBy(*sort_cols))
                )
                .where(F.col("_rn") > req.from_)
                .drop("_rn")
            )
        page = page.limit(req.size)

        total = None
        if req.with_total:
            total = sum(r.total or 0 for r in results)
        # facet merge/fixup (ref: search/facets_builder.go Merge/Fixup):
        # sum per-bucket counts across children, re-truncate
        facets = {}
        for name in (results[0].facets or {}):
            parts = [r.facets[name] for r in results if name in r.facets]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            key = [c for c in u.columns if c != "count"]
            facets[name] = (
                u.groupBy(*key)
                .agg(F.sum("count").alias("count"))
                .orderBy(F.desc("count"), *key)
            )
        return SearchResult(hits=page, facets=facets, total=total)
