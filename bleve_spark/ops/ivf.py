"""IVF (inverted-file) approximate nearest neighbour over embedding
columns — the coarse-quantizer scale path (the FAISS IndexIVFFlat
pattern re-expressed as DataFrame ops; complements the angular LSH
route in ops/similarity.py, which the reference's util/knn.go wraps
via FAISS).

Shape at 100 TB:

- ``ivf_fit`` runs seeded Lloyd iterations on a deterministic
  hash-sampled subset (never the corpus): the assign step is one
  Arrow-batched matmul per partition against the broadcast centroid
  matrix, the update step is ``posexplode → groupBy(cell, dim) partial
  avg``, so each iteration collects exactly n_cells × dim floats to
  the driver — centroids, not data.
- ``assign_cells`` stamps a persisted ``ivf_cell`` column at ingest
  (same pattern as the ``<field>__buckets`` LSH columns, PLANS.md
  §11); writers can ``repartition(cell)`` so a query's nprobe cells
  map to a bounded set of files — partition-prunable candidate
  selection, no per-query pass over the corpus.
- ``ivf_topk`` ranks the centroid table against the query ON THE
  DRIVER (an n_cells × dim matmul — tiny by construction), filters
  ``cell IN top-nprobe`` (pushes down to the scan), and scores only
  the survivors with the exact JVM metric expressions. nprobe ==
  n_cells degenerates to the exhaustive scan, which makes the exact
  brute-force top-k a true oracle for the whole route (the knn_lsh
  oracle pattern).

Everything is deterministic under a fixed seed: sampling and init
order by a content hash, numpy argmin ties break to the lowest cell.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .similarity import cosine_to_query, dot_to_query, l2sq_to_query

_METRIC_COLS = {"cosine": "cos", "dot_product": "dot", "l2_norm": "l2sq"}


def _content_hash(vec_col: str, seed: int = 0):
    # deterministic, order-independent sample key: hash the vector's
    # JSON rendering (stable formatting for float32-sourced values).
    # The seed is a hash INPUT (extra xxhash64 argument), not an
    # additive constant — adding a constant preserves orderBy order,
    # which would make `seed` a no-op for sampling/init.
    return F.xxhash64(F.to_json(F.struct(F.col(vec_col))), F.lit(int(seed)))


def _assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid argmin. ||v-c||² = ||v||² - 2v·c
    + ||c||²; ||v||² is constant per row, so argmin over (−2v·c+||c||²)
    — one (batch × dim)·(dim × k) matmul per Arrow batch. Null or
    wrong-dimension vectors get cell -1 (never probed → excluded from
    every candidate set) instead of crashing the job — the
    null/ragged-row contract the LSH bucket UDFs follow."""
    c = centroids.astype(np.float64)
    c_sq = (c * c).sum(axis=1)
    dim = c.shape[1]

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        out = np.full(len(vs), -1, dtype=np.int32)
        ok_idx, rows = [], []
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                ok_idx.append(i)
                rows.append(np.asarray(v, dtype=np.float64))
        if rows:
            m = np.stack(rows)
            scores = c_sq[None, :] - 2.0 * (m @ c.T)
            out[ok_idx] = np.argmin(scores, axis=1).astype(np.int32)
        return pd.Series(out)

    return assign


def ivf_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 64,
    iters: int = 4,
    seed: int = 7,
    sample: int = 100_000,
) -> np.ndarray:
    """Seeded Lloyd k-means over a deterministic hash-sample; returns
    the (n_cells, dim) centroid matrix. Raises if the sample cannot
    seat one DISTINCT vector per cell (duplicate vectors would seed
    identical centroids; argmin ties break low, so the duplicate cell
    would never receive assignments and stay frozen)."""
    keyed = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("v"),
        _content_hash(vec_col, seed).alias("hk"),
    )
    sampled = keyed.orderBy("hk").limit(int(sample)).persist()
    try:
        # ragged rows (wrong-dim vectors) must not seed centroids or
        # feed the means: resolve the sample's modal dimension and fit
        # on that slice only — assign_cells later stamps the stragglers
        # with the -1 sentinel, same contract as the LSH bucket UDFs
        sizes = (
            sampled.groupBy(F.size("v").alias("d"))
            .count()
            .orderBy(F.desc("count"), F.asc("d"))
            .limit(1)
            .collect()
        )
        if not sizes:
            raise ValueError("ivf_fit: no non-null vectors to fit on")
        dim = int(sizes[0]["d"])
        pool = sampled.where(F.size("v") == dim)
        n_pool = pool.count()
        if n_pool < n_cells:
            raise ValueError(
                f"ivf_fit: n_cells={n_cells} exceeds the {n_pool}-vector "
                f"sample; lower n_cells or raise `sample`"
            )
        # hk is a pure function of (vector, seed), so dropDuplicates on
        # hk dedupes vectors (hash collisions merge a pair — harmless
        # for init). Iterations keep the full multiset: duplicates are
        # genuine frequency weight for the means.
        init = [
            np.asarray(r["v"], dtype=np.float64)
            for r in pool.dropDuplicates(["hk"])
            .orderBy("hk")
            .limit(n_cells)
            .collect()
        ]
        if len(init) < n_cells:
            raise ValueError(
                f"ivf_fit: only {len(init)} distinct vectors in the "
                f"{n_pool}-row sample; n_cells={n_cells} needs one "
                f"distinct vector per cell — lower n_cells or raise "
                f"`sample`"
            )
        cents = np.asarray(init)
        for _ in range(int(iters)):
            assigned = pool.select(
                _assign_udf(cents)(F.col("v")).alias("cell"),
                F.posexplode("v").alias("dim", "x"),
            )
            rows = (
                assigned.groupBy("cell", "dim")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            nxt = cents.copy()  # empty cells keep their centroid
            for r in rows:
                if r["cell"] >= 0:  # -1 = ragged-dim rows, not a cell
                    nxt[r["cell"], r["dim"]] = r["m"]
            if np.allclose(nxt, cents):
                break
            cents = nxt
        return cents
    finally:
        sampled.unpersist()


def assign_cells(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Stamp each row's nearest-centroid id — run once at ingest and
    persist (the LSH `__buckets` pattern); one Arrow matmul pass."""
    return df.withColumn(out_col, _assign_udf(centroids)(F.col(vec_col)))


def _rank_cells(centroids: np.ndarray, query_vec: Sequence[float]):
    q = np.asarray(list(query_vec), dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    return np.argsort(d, kind="stable")


def _score_topk(
    cand: DataFrame,
    query_vec: Sequence[float],
    k: int,
    vec_col: str,
    metric: str,
    id_col: Optional[str],
) -> DataFrame:
    """Exact-metric scoring + deterministic top-k over a candidate set
    (shared by the single-version and versioned probes)."""
    score_col = _METRIC_COLS[metric]
    if metric == "cosine":
        scored = cosine_to_query(cand, query_vec, vec_col)
    elif metric == "dot_product":
        scored = dot_to_query(cand, query_vec, vec_col)
    else:
        scored = l2sq_to_query(cand, query_vec, vec_col)
    order = (
        F.asc(score_col) if metric == "l2_norm" else F.desc(score_col)
    )
    ordering = [order]
    if id_col is not None:
        ordering.append(F.asc(id_col))
    return scored.orderBy(*ordering).limit(int(k))


def ivf_topk(
    df: DataFrame,
    centroids: np.ndarray,
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    metric: str = "cosine",
    cell_col: str = "ivf_cell",
    id_col: Optional[str] = None,
) -> DataFrame:
    """Top-k by `metric` scanning only the nprobe cells nearest the
    query. With a persisted cell column the candidate filter is a
    pure-JVM IN-list that pushes down to the scan; unstamped inputs
    pay one assignment pass (documented fallback, like the
    bucket-less LSH route)."""
    if metric not in _METRIC_COLS:
        raise ValueError(
            f"metric must be one of {sorted(_METRIC_COLS)}; got {metric!r}"
        )
    nprobe = min(int(nprobe), len(centroids))
    cells = [int(c) for c in _rank_cells(centroids, query_vec)[:nprobe]]
    cand = df
    if cell_col not in cand.columns:
        cand = assign_cells(cand, centroids, vec_col, cell_col)
    cand = cand.where(F.col(cell_col).isin(cells))
    return _score_topk(cand, query_vec, k, vec_col, metric, id_col)


# -- incremental maintenance under append (refit / drift) --------------------
# At 100 TB with continuous appends the one-shot fit goes stale: new
# content clusters have no nearby centroid, so their vectors smear over
# whatever cells exist and nprobe recall decays. Restamping the whole
# corpus per refit is a full rewrite — not an option. The versioned
# scheme below is the per-segment-quantizer pattern (what Lucene does
# with per-segment vector graphs): old rows KEEP their stamp and their
# centroid generation; only newly ingested rows are stamped, with
# centroids refit on the CURRENT corpus sample; the query probes nprobe
# cells per generation, so every row is ranked against the exact
# centroid set that stamped it. Probe cost grows by n_versions (bounded:
# a compaction restamps and collapses versions, like segment merging).


def ivf_refit(
    df: DataFrame,
    versions: Sequence[np.ndarray],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    ver_col: str = "ivf_ver",
    n_cells: Optional[int] = None,
    iters: int = 4,
    seed: int = 7,
    sample: int = 100_000,
):
    """Fit a NEW centroid generation on a hash-sample of the
    yet-unstamped rows (the population it will index) and stamp ONLY
    those rows; already-stamped rows are returned bit-unchanged, so
    persisted old segments never rewrite.

    Accepts a df in any of three states: fully unstamped (no cell/ver
    columns), legacy single-version (cell column only — treated as
    version 0), or versioned. Returns ``(stamped_df, versions')`` where
    ``versions' = list(versions) + [new_centroids]``.
    """
    versions = list(versions)
    if not versions:
        raise ValueError("ivf_refit needs at least one existing version")
    if n_cells is None:
        n_cells = len(versions[-1])
    if cell_col in df.columns and ver_col not in df.columns:
        # legacy single-version stamp = generation 0
        df = df.withColumn(
            ver_col,
            F.when(F.col(cell_col).isNotNull(), F.lit(0)).cast("int"),
        )
    elif cell_col not in df.columns:
        df = df.withColumn(
            cell_col, F.lit(None).cast("int")
        ).withColumn(ver_col, F.lit(None).cast("int"))
    new_ver = len(versions)
    unstamped = F.col(ver_col).isNull()
    # fit the new generation on the population it will actually stamp
    # (the yet-unstamped rows): centroids spent modeling regions only
    # old generations index are wasted cells — measured on 2x drifted
    # growth, whole-corpus fit left half the cells empty for the new
    # rows and recall@10 dropped to 0.7 on new-distribution queries
    # (per-segment quantizer pattern, like per-segment vector graphs)
    cents = ivf_fit(
        df.where(unstamped),
        vec_col=vec_col,
        n_cells=n_cells,
        iters=iters,
        seed=seed + new_ver,
        sample=sample,
    )
    assigned = _assign_udf(cents)(F.col(vec_col))
    out = df.withColumn(
        cell_col,
        F.when(unstamped, assigned).otherwise(F.col(cell_col)),
    ).withColumn(
        ver_col,
        F.when(unstamped, F.lit(new_ver)).otherwise(F.col(ver_col)),
    )
    return out, versions + [cents]


def ivf_topk_versioned(
    df: DataFrame,
    versions: Sequence[np.ndarray],
    query_vec: Sequence[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    metric: str = "cosine",
    cell_col: str = "ivf_cell",
    ver_col: str = "ivf_ver",
    id_col: Optional[str] = None,
) -> DataFrame:
    """Top-k over a version-stamped corpus: rank cells PER centroid
    generation and probe each generation's nprobe nearest cells — every
    row is matched against the centroids that stamped it, so refit
    drift never silently misroutes old rows. Single-version inputs
    (no ver_col) degrade to ivf_topk."""
    if metric not in _METRIC_COLS:
        raise ValueError(
            f"metric must be one of {sorted(_METRIC_COLS)}; got {metric!r}"
        )
    versions = list(versions)
    if ver_col not in df.columns:
        return ivf_topk(
            df, versions[-1], query_vec, k, nprobe, vec_col, metric,
            cell_col, id_col,
        )
    cond = None
    for v, cents in enumerate(versions):
        cells = [
            int(c)
            for c in _rank_cells(cents, query_vec)[
                : min(int(nprobe), len(cents))
            ]
        ]
        c = (F.col(ver_col) == v) & F.col(cell_col).isin(cells)
        cond = c if cond is None else (cond | c)
    return _score_topk(
        df.where(cond), query_vec, k, vec_col, metric, id_col
    )
