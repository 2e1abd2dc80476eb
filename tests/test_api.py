"""Index facade parity with the reference's Index interface
(/root/reference/index.go:208-252): Index/Batch/Delete/Document/DocCount/
Fields/FieldDict{Prefix,Range}/Search/CopyTo/Close."""

import shutil

import pytest

from bleve_spark import (
    FieldMapping,
    Index,
    IndexMapping,
    SearchRequest,
    parse_query,
)

IDX = "/tmp/bleve_spark_api_test_index"
BACKUP = "/tmp/bleve_spark_api_test_backup"


@pytest.fixture(scope="module")
def ix(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    shutil.rmtree(BACKUP, ignore_errors=True)
    m = IndexMapping(default_analyzer="standard", compose_all=True)
    m.add(FieldMapping("body"))
    ix = Index(spark, IDX, m)
    ix.batch(
        [
            {"_id": "a", "body": "the quick brown fox"},
            {"_id": "b", "body": "lazy dogs sleep"},
        ]
    )
    return ix


def test_search_and_doc_count(ix):
    res = ix.search(
        SearchRequest(query=parse_query({"field": "body", "term": "fox"}))
    )
    assert [r["_id"] for r in res.hits.collect()] == ["a"]
    assert ix.doc_count() == 2


def test_single_index_and_document(ix):
    ix.index("c", {"body": "a third document"})
    assert ix.doc_count() == 3
    d = ix.document("c")
    assert d["_id"] == "c" and d["body"] == "a third document"
    assert ix.document("nope") is None


def test_fields_and_field_dict(ix):
    assert "body" in ix.fields()
    terms = [r["term"] for r in ix.field_dict("body").collect()]
    assert terms == sorted(terms)
    assert "fox" in terms and "lazy" in terms
    pref = [r["term"] for r in ix.field_dict_prefix("body", "do").collect()]
    assert pref == ["document", "dogs"]
    rng = [
        r["term"] for r in ix.field_dict_range("body", "d", "g").collect()
    ]
    assert all("d" <= t < "g" for t in rng) and "fox" in rng


def test_delete_and_copy_to(spark, ix):
    ix.delete("b")
    assert ix.doc_count() == 2
    ix.copy_to(BACKUP)
    m = IndexMapping(default_analyzer="standard", compose_all=True)
    m.add(FieldMapping("body"))
    restored = Index(spark, BACKUP, m)
    assert restored.doc_count() == 2
    res = restored.search(
        SearchRequest(query=parse_query({"field": "body", "term": "lazy"}))
    )
    assert res.hits.collect() == []


def test_delete_on_bulk_built_index(spark, tmp_path):
    from bleve_spark import IndexBuilder

    path = str(tmp_path / "bulk")
    m = IndexMapping(default_analyzer="standard", compose_all=True)
    m.add(FieldMapping("body"))
    docs = spark.createDataFrame(
        [("a", "red fox"), ("b", "blue cow")], ["_id", "body"]
    )
    IndexBuilder(spark, m, path).build(docs)
    ix = Index(spark, path)  # the mapping the build persisted
    ix.delete("a")
    assert ix.doc_count() == 1
    res = ix.search(
        SearchRequest(query=parse_query({"field": "body", "term": "fox"}))
    )
    assert res.hits.collect() == []


def test_close(ix):
    ix.close()
    with pytest.raises(RuntimeError):
        ix.doc_count()
