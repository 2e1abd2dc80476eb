"""Port of the reference phrase golden suite
/root/reference/test/tests/phrase/ (en-analyzed `body`, one string doc +
one array doc, searches.json expectations): every sub-phrase of
"Twenty Thousand Leagues Under The Sea" must match through stop-word
position gaps; phrases must not span array elements; multi-phrase slots
accept alternatives."""

import shutil

import pytest
from pyspark.sql import types as T, functions as F

from bleve_spark import (
    FieldMapping,
    IndexBuilder,
    IndexMapping,
    SearchIndex,
    Searcher,
    SearchRequest,
    parse_query,
    search,
)

SUITE_DIR = "/tmp/bleve_spark_phrase_suite_index"

# every case runs on both search routes: the driver-local one (the
# default gate) and the Spark one, forced with a zero gate
ROUTES = {"local": search.LOCAL_MAX_POSTINGS, "spark": 0}


def _search(idx, req, route):
    """(hit ids, total) of `req` on `route`, whose gate ROUTES sets."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(search, "LOCAL_MAX_POSTINGS", ROUTES[route])
        res = Searcher(idx).search(req)
        return [r["_id"] for r in res.hits.collect()], res.total

BOOKS = [
    ("a", ["Twenty Thousand Leagues Under The Sea"]),
    ("b", ["bad call", "defenseless receiver"]),
]


@pytest.fixture(scope="module")
def phrase_index(spark):
    shutil.rmtree(SUITE_DIR, ignore_errors=True)
    m = IndexMapping(default_analyzer="standard", compose_all=True)
    m.add(FieldMapping("body", analyzer="en"))
    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("body", T.ArrayType(T.StringType())),
        ]
    )
    corpus = spark.createDataFrame(BOOKS, schema=schema)
    IndexBuilder(spark, m, SUITE_DIR).build(corpus, id_expr=F.col("id"))
    return SearchIndex(spark, SUITE_DIR, m)


PHRASES = [
    # every contiguous sub-phrase matches doc a (stop-gap semantics)
    ("Twenty", ["a"]),
    ("Twenty Thousand", ["a"]),
    ("Twenty Thousand Leagues", ["a"]),
    ("Twenty Thousand Leagues Under", ["a"]),
    ("Twenty Thousand Leagues Under the", ["a"]),
    ("Twenty Thousand Leagues Under the Sea", ["a"]),
    ("Thousand", ["a"]),
    ("Thousand Leagues", ["a"]),
    ("Thousand Leagues Under", ["a"]),
    ("Thousand Leagues Under the", ["a"]),
    ("Thousand Leagues Under the Sea", ["a"]),
    ("Leagues", ["a"]),
    ("Leagues Under", ["a"]),
    ("Leagues Under the", ["a"]),
    ("Leagues Under the Sea", ["a"]),
    ("Under the Sea", ["a"]),
    ("the Sea", ["a"]),
    ("Sea", ["a"]),
    ("bad call", ["b"]),
    ("defenseless receiver", ["b"]),
    # cross-element phrase must NOT match (array-position separation)
    ("bad receiver", []),
]


@pytest.mark.parametrize(
    "text,exp", PHRASES, ids=[p[0].replace(" ", "_") for p in PHRASES]
)
def test_phrase_case(phrase_index, text, exp):
    req = SearchRequest(
        query=parse_query({"field": "body", "match_phrase": text}),
        with_total=True,
    )
    for route in ROUTES:
        ids, total = _search(phrase_index, req, route)
        assert ids == exp, route
        assert total == len(exp), route


def test_multi_phrase_alternatives(phrase_index):
    # ref: test/tests/phrase/searches.json last case — slot alternatives
    req = SearchRequest(
        query=parse_query(
            {"field": "body", "terms": [["twenti", "thirti"], ["thousand"]]}
        ),
        with_total=True,
    )
    for route in ROUTES:
        ids, total = _search(phrase_index, req, route)
        assert ids == ["a"], route
        assert total == 1, route


def test_multi_phrase_all_alternatives_missing(phrase_index):
    req = SearchRequest(
        query=parse_query(
            {"field": "body", "terms": [["nosuch", "norsuch"], ["thousand"]]}
        ),
        with_total=True,
    )
    for route in ROUTES:
        assert _search(phrase_index, req, route)[1] == 0, route
