"""Regression tests for the round-4 advice fixes:

1. multimodal_features gate shape — every output column is scalar (the
   driver's canonicalizer sorts the raw pandas frame; a list-valued
   column is unhashable and crashed the round-3 gate), and the exploded
   integer dims reproduce the float32 feature exactly.
2. LSH bucket-column provenance — lsh_bucket_tables stamps its params
   as column metadata; lsh_candidates_tables refuses a mismatched
   precomputed column (raise), ignores an unstamped look-alike
   (recompute), and reuses a matching one.
3. n_planes / bits_per_band int32 guards — >=32 planes would wrap the
   int32 bucket id silently.
4. _MAPPING.json is overwritten on rebuild, so an in-place rebuild with
   a changed mapping can't leave a stale persisted mapping; and the
   default build fingerprint covers the mapping, so that rebuild is not
   skipped as already done.
"""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from bleve_spark import IndexBuilder
from bleve_spark.mapping import FieldMapping, IndexMapping
from bleve_spark.ops import multimodal, similarity as sim


# -- 1. multimodal gate shape ----------------------------------------------


def test_multimodal_entry_columns_are_scalar(spark):
    import __spark_entry__ as entrymod

    df = entrymod.queries()["multimodal_features"](spark, "unused")
    for field in df.schema.fields:
        assert field.dataType.typeName() in (
            "long", "integer", "string"
        ), f"non-scalar gate column {field.name}: {field.dataType}"
    pdf = df.toPandas()
    # the driver's _canon sorts the raw frame — must not raise
    pdf.sort_values(list(pdf.columns), kind="stable")
    # integer dims round-trip the float32 feature exactly
    rows = multimodal.synthesize_media_rows(n=64)
    import hashlib

    by_id = {r[0]: r[6] for r in rows}
    sample = pdf.set_index("media_id").loc[0]
    d = hashlib.sha256(by_id[0]).digest()
    expect = np.frombuffer(d[:32], dtype=np.uint16)
    got = [int(sample[f"f{i:02d}"]) for i in range(16)]
    assert got == expect.tolist()


# -- 2. LSH bucket provenance ----------------------------------------------


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.standard_normal(8)]) for i in range(64)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_bucket_metadata_roundtrip(spark, vec_df, tmp_path):
    b = sim.lsh_bucket_tables(vec_df, 8, n_tables=2, n_planes=10, seed=5)
    meta = b.schema["buckets"].metadata
    assert meta == {"lsh_n_tables": 2, "lsh_n_planes": 10, "lsh_seed": 5}
    p = str(tmp_path / "buckets.parquet")
    b.write.parquet(p)
    r = spark.read.parquet(p)
    assert r.schema["buckets"].metadata == meta
    # rename (the <field>__buckets persistence path) keeps metadata
    r2 = r.withColumnRenamed("buckets", "embedding__buckets")
    assert r2.schema["embedding__buckets"].metadata == meta


def test_candidates_reject_mismatched_buckets(spark, vec_df):
    q = [0.5] * 8
    b = sim.lsh_bucket_tables(vec_df, 8, n_tables=2, n_planes=10, seed=5)
    with pytest.raises(ValueError, match="params"):
        sim.lsh_candidates_tables(
            b, q, n_tables=2, n_planes=10, seed=6
        )
    with pytest.raises(ValueError, match="params"):
        sim.lsh_candidates_tables(b, q, n_tables=4, n_planes=10, seed=5)


def test_candidates_ignore_unstamped_lookalike(spark, vec_df):
    # a user column named "buckets" with the right type but no
    # provenance metadata must NOT drive candidate selection: results
    # must equal the recomputed-bucket run on the clean frame
    q = [0.5] * 8
    fake = vec_df.withColumn(
        "buckets", F.array(F.lit(0), F.lit(0), F.lit(0), F.lit(0))
    )
    got = sorted(
        r["vec_id"]
        for r in sim.lsh_candidates_tables(fake, q).select("vec_id").collect()
    )
    want = sorted(
        r["vec_id"]
        for r in sim.lsh_candidates_tables(vec_df, q).select("vec_id").collect()
    )
    assert got == want


def test_candidates_reuse_matching_buckets(spark, vec_df):
    q = [0.5] * 8
    b = sim.lsh_bucket_tables(vec_df, 8)  # shared defaults
    reused = sorted(
        r["vec_id"]
        for r in sim.lsh_candidates_tables(b, q).select("vec_id").collect()
    )
    fresh = sorted(
        r["vec_id"]
        for r in sim.lsh_candidates_tables(vec_df, q).select("vec_id").collect()
    )
    assert reused == fresh


# -- 3. int32 guards --------------------------------------------------------


def test_n_planes_int32_guard(spark, vec_df):
    with pytest.raises(ValueError, match="31"):
        sim.lsh_bucket_tables(vec_df, 8, n_planes=32)
    with pytest.raises(ValueError, match="31"):
        sim.lsh_bucket(vec_df, 8, n_planes=40)
    with pytest.raises(ValueError, match="31"):
        sim.lsh_band_keys(vec_df, 8, n_bands=2, bits_per_band=32)


# -- kNN similarity metrics (verdict item 3) --------------------------------
# ref: util/knn.go:20-38 (l2_norm default, dot_product),
# mapping/mapping_vectors.go:83-110 (validateVectorField)


def test_validate_vector_field_reference_cases():
    from bleve_spark.mapping import validate_vector_field

    # invalid dims (ref: "invalid vector dimension ... (0, 2048)")
    for bad in (-1, 2049):
        with pytest.raises(ValueError, match="invalid vector dimension"):
            validate_vector_field(
                FieldMapping(name="v", type="vector", dims=bad)
            )
    # empty similarity -> the reference default
    fm = validate_vector_field(FieldMapping(name="v", type="vector"))
    assert fm.similarity == "l2_norm"
    # invalid metric names the valid set (ref error shape)
    with pytest.raises(ValueError, match="invalid similarity metric"):
        validate_vector_field(
            FieldMapping(name="v", type="vector", similarity="euclidean")
        )
    # vector-inapplicable options forced off
    fm2 = validate_vector_field(
        FieldMapping(name="v", type="vector", similarity="dot_product")
    )
    assert fm2.include_in_all is False
    assert fm2.include_term_vectors is False
    # IndexMapping.add validates too
    with pytest.raises(ValueError):
        IndexMapping().add(
            FieldMapping(name="v", type="vector", similarity="nope")
        )


@pytest.fixture(scope="module")
def metric_index(spark, tmp_path_factory):
    from bleve_spark import IndexBuilder

    path = str(tmp_path_factory.mktemp("knn_metric") / "idx")
    corpus = spark.createDataFrame(
        [
            ("a", [1.0, 0.0, 0.0]),
            ("b", [2.0, 0.0, 0.0]),  # same direction, double norm
            ("c", [0.0, 1.0, 0.0]),
        ],
        "id string, embedding array<double>",
    )
    m = IndexMapping(dynamic=False).add(
        FieldMapping(name="embedding", type="vector")  # default l2_norm
    )
    IndexBuilder(spark, m, path).build(corpus, id_expr=F.col("id"))
    return path


def _knn_hits(spark, path, mapping, vec, k=3):
    from bleve_spark import SearchIndex, Searcher
    from bleve_spark.search import KNNRequest, SearchRequest
    from bleve_spark import query as Qm

    s = Searcher(SearchIndex(spark, path, mapping))
    res = s.search(
        SearchRequest(
            query=Qm.MatchNoneQuery(),
            knn=[KNNRequest(field="embedding", vector=vec, k=k)],
            size=k,
        )
    )
    return [(r["_id"], r["score"]) for r in res.hits.collect()]


def test_knn_l2_default_metric_scoring(spark, metric_index):
    # default mapping metric = l2_norm: score = 1/d^2, exact match = +inf
    m = IndexMapping(dynamic=False).add(
        FieldMapping(name="embedding", type="vector")
    )
    hits = _knn_hits(spark, metric_index, m, [1.0, 0.0, 0.0])
    assert [h[0] for h in hits] == ["a", "b", "c"]
    assert hits[0][1] == float("inf")  # d=0 (ref: Go 1.0/0.0 = +Inf)
    assert hits[1][1] == pytest.approx(1.0)  # d^2 = 1
    assert hits[2][1] == pytest.approx(0.5)  # d^2 = 2


def test_knn_dot_product_metric_scoring(spark, metric_index):
    # dot_product = RAW inner product (ref util/knn.go:22-28): the
    # double-norm vector b outranks the exact-direction unit vector a
    m = IndexMapping(dynamic=False).add(
        FieldMapping(
            name="embedding", type="vector", similarity="dot_product"
        )
    )
    hits = _knn_hits(spark, metric_index, m, [1.0, 0.0, 0.0])
    assert [h[0] for h in hits] == ["b", "a", "c"]
    assert hits[0][1] == pytest.approx(2.0)
    assert hits[1][1] == pytest.approx(1.0)


def test_knn_cosine_extension_metric_scoring(spark, metric_index):
    # engine-extension "cosine": normalized — a and b tie at 1.0
    m = IndexMapping(dynamic=False).add(
        FieldMapping(name="embedding", type="vector", similarity="cosine")
    )
    hits = _knn_hits(spark, metric_index, m, [1.0, 0.0, 0.0])
    assert sorted(h[0] for h in hits[:2]) == ["a", "b"]
    assert hits[0][1] == pytest.approx(1.0)
    assert hits[1][1] == pytest.approx(1.0)


def test_brute_force_topk_l2(spark, metric_index):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [3.0, 4.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = sim.brute_force_topk_l2(df, [0.0, 0.0], k=2).collect()
    assert [(r["vec_id"], r["l2sq_r"]) for r in got] == [
        (1, 0.0),
        (3, 2.0),
    ]


# -- 4. _MAPPING.json overwrite on rebuild ----------------------------------


def test_mapping_json_overwritten_on_rebuild(spark, tmp_path):
    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    m1 = IndexMapping().add(
        FieldMapping(name="text", type="text", analyzer="standard")
    )
    IndexBuilder(spark, m1, path).build(
        docs, id_expr=F.col("doc_id").cast("string"), fingerprint="v1"
    )
    with open(os.path.join(path, "_MAPPING.json")) as f:
        first = json.load(f)
    m2 = IndexMapping().add(
        FieldMapping(name="text", type="text", analyzer="keyword")
    )
    IndexBuilder(spark, m2, path).build(
        docs, id_expr=F.col("doc_id").cast("string"), fingerprint="v2"
    )
    with open(os.path.join(path, "_MAPPING.json")) as f:
        second = json.load(f)
    assert first != second
    assert second == m2.to_dict()


def test_default_fingerprint_covers_the_mapping(spark, tmp_path):
    from bleve_spark import SearchIndex, Searcher, SearchRequest
    from bleve_spark import query as Q

    path = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    for analyzer in ("standard", "keyword"):
        m = IndexMapping().add(
            FieldMapping(name="text", type="text", analyzer=analyzer)
        )
        IndexBuilder(spark, m, path).build(
            docs, id_expr=F.col("doc_id").cast("string")
        )

    def hits(term):
        res = Searcher(SearchIndex(spark, path, m)).search(
            SearchRequest(query=Q.TermQuery(field="text", term=term))
        )
        return sorted(r["_id"] for r in res.hits.collect())

    # the keyword analyzer indexed each whole value as one term
    assert hits("alpha beta") == ["1"]
    assert hits("beta") == []
