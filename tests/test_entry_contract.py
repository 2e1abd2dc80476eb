"""Driver contract smoke: entry() runs, queries()/oracle_sql() are
consistent, and a sample of oracle checks passes at sf0.001."""

import hashlib
import os
import shutil
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

SAMPLE = [
    "ft_term_tfidf",
    "ft_term_bm25",
    "ft_phrase",
    "dedup_minhash_lsh",
    "knn_cosine",
    "text_quality",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert "score" in df.columns


def test_registry_consistency():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_sample(spark, duck, name):
    from tools.oracle_check import normalize

    sdf = entrymod.queries()[name](spark, SF_DIR).toPandas()
    odf = duck.sql(entrymod.oracle_sql()[name]).df()
    a, b = normalize(sdf), normalize(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b)
    assert a.equals(b), f"{name} value mismatch"


def test_streamed_index_follows_a_regenerated_corpus(spark, tmp_path):
    """The streamed index is rebuilt when the corpus at the same sf_dir
    changes row count, not compared stale against fresh oracle data."""
    import pandas as pd

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = f"/tmp/bleve_spark_entry/streamed_{key}"
    try:
        for n in (12, 20):
            src.head(n).to_parquet(os.path.join(sf_dir, "documents.parquet"))
            entrymod._STREAMED.pop(sf_dir, None)
            assert entrymod._streamed_doc_index(spark, sf_dir).doc_count == n
    finally:
        entrymod._STREAMED.pop(sf_dir, None)
        shutil.rmtree(base, ignore_errors=True)
