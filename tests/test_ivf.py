"""IVF coarse-quantizer ANN (bleve_spark/ops/ivf.py): deterministic
fit, ingest-time cell stamping, exactness at nprobe == n_cells, recall
on clustered data at nprobe << n_cells."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bleve_spark.ops import ivf
from bleve_spark.ops.similarity import brute_force_topk


def _clustered(spark, n=400, dim=8, n_clusters=8, sigma=0.05, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    rows = []
    for i in range(n):
        c = i % n_clusters
        v = centers[c] + sigma * rng.standard_normal(dim)
        rows.append((i, [float(x) for x in v]))
    return (
        spark.createDataFrame(rows, "vec_id int, embedding array<double>"),
        centers,
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return _clustered(spark)


def test_fit_is_deterministic(spark, corpus):
    df, _ = corpus
    a = ivf.ivf_fit(df, n_cells=8, iters=3, seed=11)
    b = ivf.ivf_fit(df, n_cells=8, iters=3, seed=11)
    assert a.shape == (8, 8)
    np.testing.assert_allclose(a, b)


def test_fit_frees_its_cached_sample(spark, corpus):
    """ivf_fit persists its sample only while it fits: once it returns,
    on success or on a raise, the session caches nothing."""
    df, _ = corpus
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ivf.ivf_fit(df, n_cells=8, iters=2)
    assert cache.isEmpty()
    with pytest.raises(ValueError, match="n_cells"):
        ivf.ivf_fit(df, n_cells=64, sample=32)
    assert cache.isEmpty()


def test_fit_rejects_more_cells_than_sample(spark, corpus):
    df, _ = corpus
    with pytest.raises(ValueError, match="n_cells"):
        ivf.ivf_fit(df, n_cells=64, sample=32)


def test_assign_cells_range_and_determinism(spark, corpus):
    df, _ = corpus
    cents = ivf.ivf_fit(df, n_cells=8, iters=3)
    stamped = ivf.assign_cells(df, cents)
    cells = [r["ivf_cell"] for r in stamped.select("ivf_cell").collect()]
    assert len(cells) == 400
    assert all(0 <= c < 8 for c in cells)
    again = [
        r["ivf_cell"]
        for r in ivf.assign_cells(df, cents).select("ivf_cell").collect()
    ]
    assert cells == again


def test_exhaustive_probe_matches_brute_force(spark, corpus):
    """nprobe == n_cells scans everything — results must equal the
    brute-force metric top-k exactly (the oracle identity the driver
    gate uses for the LSH route)."""
    df, _ = corpus
    cents = ivf.ivf_fit(df, n_cells=8, iters=3)
    stamped = ivf.assign_cells(df, cents).persist()
    q = [r["embedding"] for r in stamped.where("vec_id = 7").collect()][0]
    try:
        got = ivf.ivf_topk(
            stamped, cents, q, k=10, nprobe=8, id_col="vec_id"
        ).select("vec_id", F.round("cos", 4).alias("c"))
        want = brute_force_topk(stamped.drop("ivf_cell"), q, k=10).select(
            "vec_id", F.col("cos_r").alias("c")
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
    finally:
        stamped.unpersist()


def test_low_probe_recall_on_clustered_data(spark, corpus):
    """With clear cluster structure, nprobe=2 of 8 cells must recover
    nearly all true neighbours (they live in the query's own cell)."""
    df, _ = corpus
    cents = ivf.ivf_fit(df, n_cells=8, iters=4)
    stamped = ivf.assign_cells(df, cents).persist()
    try:
        hits = 0
        for qid in (0, 1, 2):
            q = [
                r["embedding"]
                for r in stamped.where(f"vec_id = {qid}").collect()
            ][0]
            got = {
                r["vec_id"]
                for r in ivf.ivf_topk(
                    stamped, cents, q, k=10, nprobe=2, id_col="vec_id"
                ).collect()
            }
            want = {
                r["vec_id"]
                for r in brute_force_topk(
                    stamped.drop("ivf_cell"), q, k=10
                ).collect()
            }
            hits += len(got & want)
        assert hits >= 27, hits  # recall@10 >= 0.9 over 3 queries
    finally:
        stamped.unpersist()


def test_metrics_and_unstamped_fallback(spark, corpus):
    df, _ = corpus
    cents = ivf.ivf_fit(df, n_cells=8, iters=3)
    q = [r["embedding"] for r in df.where("vec_id = 5").collect()][0]
    # unstamped input assigns on the fly; l2 orders ascending
    l2 = ivf.ivf_topk(
        df, cents, q, k=3, nprobe=8, metric="l2_norm", id_col="vec_id"
    ).collect()
    assert l2[0]["vec_id"] == 5 and l2[0]["l2sq"] == pytest.approx(0.0)
    dot = ivf.ivf_topk(
        df, cents, q, k=3, nprobe=8, metric="dot_product", id_col="vec_id"
    ).collect()
    assert len(dot) == 3 and dot[0]["dot"] >= dot[1]["dot"]
    with pytest.raises(ValueError, match="metric"):
        ivf.ivf_topk(df, cents, q, metric="hamming")


def test_null_and_ragged_vectors_get_sentinel_cell(spark):
    """Null / wrong-dim embeddings stamp cell -1 (excluded from every
    probe) instead of crashing the Arrow batch — the LSH bucket UDFs'
    null-row contract."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 1.0, 0.0, 0.0]),
        (4, None),
        (5, [1.0, 0.0]),  # ragged
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = ivf.ivf_fit(df, n_cells=2, iters=2)
    assert cents.shape == (2, 4)
    got = {
        r["vec_id"]: r["ivf_cell"]
        for r in ivf.assign_cells(df, cents).collect()
    }
    assert got[4] == -1 and got[5] == -1
    assert all(0 <= got[i] < 2 for i in (1, 2, 3))
    q = [1.0, 0.0, 0.0, 0.0]
    ids = {
        r["vec_id"]
        for r in ivf.ivf_topk(
            ivf.assign_cells(df, cents), cents, q, k=5, nprobe=2,
            id_col="vec_id",
        ).collect()
    }
    assert 4 not in ids and 5 not in ids

# -- incremental refit under append (round-5 verdict item 5) -----------------


def _drifted(spark, n=400, dim=8, n_clusters=8, seed=99, id_base=1000):
    """A second wave of docs clustered around NEW centers (distribution
    drift: the case where stale centroids smear recall)."""
    rng = np.random.default_rng(seed)
    centers = 4.0 + rng.standard_normal((n_clusters, dim))  # shifted
    rows = []
    for i in range(n):
        c = i % n_clusters
        v = centers[c] + 0.05 * rng.standard_normal(dim)
        rows.append((id_base + i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id int, embedding array<double>"
    )


def test_refit_stamps_only_new_rows(spark, corpus):
    df, _ = corpus
    cents0 = ivf.ivf_fit(df, n_cells=8, iters=3)
    old = ivf.assign_cells(df, cents0).persist()
    try:
        before = {
            r["vec_id"]: r["ivf_cell"]
            for r in old.select("vec_id", "ivf_cell").collect()
        }
        grown = old.unionByName(
            _drifted(spark), allowMissingColumns=True
        )
        stamped, versions = ivf.ivf_refit(grown, [cents0], n_cells=8)
        assert len(versions) == 2 and versions[1].shape == (8, 8)
        rows = stamped.select("vec_id", "ivf_cell", "ivf_ver").collect()
        got_old = {
            r["vec_id"]: (r["ivf_cell"], r["ivf_ver"])
            for r in rows
            if r["vec_id"] < 1000
        }
        # old rows: cell bit-unchanged, tagged generation 0
        assert got_old == {k: (v, 0) for k, v in before.items()}
        # new rows: stamped with the NEW generation
        new_rows = [r for r in rows if r["vec_id"] >= 1000]
        assert len(new_rows) == 400
        assert all(r["ivf_ver"] == 1 for r in new_rows)
        assert all(0 <= r["ivf_cell"] < 8 for r in new_rows)
    finally:
        old.unpersist()


def test_refit_recall_after_2x_growth(spark, corpus):
    """2x corpus growth with drifted clusters, old rows NOT restamped:
    the versioned probe must hold recall@10 >= 0.9 for queries in both
    the old and the new distribution at nprobe=2."""
    df, _ = corpus
    cents0 = ivf.ivf_fit(df, n_cells=8, iters=4)
    old = ivf.assign_cells(df, cents0)
    grown = old.unionByName(_drifted(spark), allowMissingColumns=True)
    stamped, versions = ivf.ivf_refit(grown, [cents0], n_cells=8, iters=4)
    stamped = stamped.persist()
    try:
        hits = 0
        for qid in (0, 1, 1000, 1001):  # old- and new-distribution queries
            q = [
                r["embedding"]
                for r in stamped.where(f"vec_id = {qid}").collect()
            ][0]
            got = {
                r["vec_id"]
                for r in ivf.ivf_topk_versioned(
                    stamped, versions, q, k=10, nprobe=2, id_col="vec_id"
                ).collect()
            }
            # ground truth = the exhaustive probe (nprobe == n_cells
            # scans every row; raw-score ordering + the same id
            # tie-break — brute_force_topk ranks on ROUNDED scores,
            # which reshuffles the dozens of near-tie cluster members
            # at the k boundary)
            want = {
                r["vec_id"]
                for r in ivf.ivf_topk_versioned(
                    stamped, versions, q, k=10, nprobe=8, id_col="vec_id"
                ).collect()
            }
            hits += len(got & want)
        assert hits >= 36, hits  # recall@10 >= 0.9 over 4 queries
    finally:
        stamped.unpersist()


def test_versioned_probe_exhaustive_is_exact(spark, corpus):
    df, _ = corpus
    cents0 = ivf.ivf_fit(df, n_cells=8, iters=3)
    old = ivf.assign_cells(df, cents0)
    grown = old.unionByName(_drifted(spark), allowMissingColumns=True)
    stamped, versions = ivf.ivf_refit(grown, [cents0], n_cells=8)
    stamped = stamped.persist()
    try:
        q = [
            r["embedding"] for r in stamped.where("vec_id = 3").collect()
        ][0]
        got = ivf.ivf_topk_versioned(
            stamped, versions, q, k=10, nprobe=8, id_col="vec_id"
        ).select("vec_id", F.round("cos", 4).alias("c"))
        want = brute_force_topk(
            stamped.drop("ivf_cell", "ivf_ver"), q, k=10
        ).select("vec_id", F.col("cos_r").alias("c"))
        gs, ws = got.collect(), want.collect()
        # exhaustive probe == brute force, modulo rounded-score ties at
        # the k boundary (the two rank on raw vs rounded score)
        assert sorted(r["c"] for r in gs) == sorted(r["c"] for r in ws)
        assert len({r["vec_id"] for r in gs} & {r["vec_id"] for r in ws}) >= 9
    finally:
        stamped.unpersist()
