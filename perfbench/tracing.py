"""Spans and Spark job counts recorded by the benchmark around calls into
bleve_spark's layers.

Spans are kept in memory and written out when the run ends. A span is
(id, name, parent, req, start, end); its layer is the part of the name
before the first dot (``search.search`` -> ``search``). Self time is a
span's duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self.req: Optional[str] = None
        self._stack: List[int] = []
        self._t0 = time.perf_counter()
        self._groups = 0
        # (field, term) lookups per snapshot, for the term_stats repeat ratio
        self.term_lookups = 0
        self.term_repeats = 0
        self._seen: Dict[int, tuple] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": self.req,
            "start": time.perf_counter() - self._t0,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @contextlib.contextmanager
    def jobs(self, sc):
        """Count the Spark jobs and completed tasks started inside the
        block, through a job group read back from the status tracker.
        Yields a dict that holds ``jobs`` and ``tasks`` after the block;
        both stay 0 when tracing is off."""
        out = {"jobs": 0, "tasks": 0}
        if not self.enabled:
            yield out
            return
        self._groups += 1
        gid = f"perfbench-{self._groups}"
        sc.setJobGroup(gid, gid)
        try:
            yield out
        finally:
            st = sc.statusTracker()
            ids = st.getJobIdsForGroup(gid)
            out["jobs"] = len(ids)
            for j in ids:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = st.getStageInfo(s)
                    if stage is not None:
                        out["tasks"] += stage.numCompletedTasks

    def wrap(self, owner, attr: str, name: str):
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)

    def instrument(self):
        """Wrap the public calls of each bleve_spark layer in spans."""
        from bleve_spark import build, index, search, writer

        self.wrap(build.IndexBuilder, "build", "build.build")
        for name in ("batch_index", "delete", "maybe_merge"):
            self.wrap(writer.IndexWriter, name, f"writer.{name}")
        for name in ("decoded", "expansion", "blocks"):
            self.wrap(index.SearchIndex, name, f"index.{name}")
        self.wrap(search.Searcher, "search", "search.search")

        original = index.SearchIndex.term_stats
        tracer = self

        def term_stats(idx, field, terms):
            terms = list(terms)
            # keep the snapshot alive so its id() is never reused
            _, seen = tracer._seen.setdefault(id(idx), (idx, set()))
            for t in dict.fromkeys(terms):
                tracer.term_lookups += 1
                tracer.term_repeats += (field, t) in seen
                seen.add((field, t))
            with tracer.span("index.term_stats"):
                return original(idx, field, terms)

        index.SearchIndex.term_stats = term_stats

    # -- derived figures ---------------------------------------------------

    def self_times(self) -> Dict[str, float]:
        """Self time summed per layer, in seconds."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            start, end = s["start"], s.get("end", s["start"])
            covered, cursor = 0.0, start
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c.get("end", c["start"]), end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (end - start) - covered
        return out

    def total(self, name: str, req_prefix: str = "") -> float:
        """Summed duration of the spans called `name` in requests whose
        id starts with `req_prefix`."""
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and (s["req"] or "").startswith(req_prefix)
        )

    def write(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
