"""Port of the reference geoshapes golden suite
(/root/reference/test/tests/geoshapes/: 9 shape docs — point, multipoint,
linestring, multilinestring, polygon, multipolygon, envelope, circle,
geometrycollection — and 35 searches over intersects/contains/within).
Data and expectations load from the read-only reference checkout at test
time (parity data, like the other suite ports)."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    FieldMapping,
    IndexBuilder,
    IndexMapping,
    SearchIndex,
    Searcher,
    SearchRequest,
    parse_query,
)

REF_DIR = "/root/reference/test/tests/geoshapes"
SUITE_DIR = "/tmp/bleve_spark_geoshape_suite_index"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DIR), reason="reference geoshapes suite not present"
)


def load_searches():
    with open(os.path.join(REF_DIR, "searches.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def shape_index(spark):
    shutil.rmtree(SUITE_DIR, ignore_errors=True)
    rows = []
    for path in sorted(glob.glob(os.path.join(REF_DIR, "data", "*.json"))):
        with open(path) as f:
            d = json.load(f)
        rows.append(
            (
                os.path.splitext(os.path.basename(path))[0],
                d.get("name", ""),
                d.get("city", ""),
                json.dumps(d["region"]),
            )
        )
    corpus = spark.createDataFrame(rows, ["id", "name", "city", "region"])
    m = IndexMapping(default_analyzer="keyword", compose_all=False)
    m.add(FieldMapping("name", analyzer="keyword"))
    m.add(FieldMapping("city", analyzer="keyword"))
    m.add(FieldMapping("region", type="geoshape", index=False))
    IndexBuilder(spark, m, SUITE_DIR).build(corpus, id_expr=F.col("id"))
    return SearchIndex(spark, SUITE_DIR, m)


@pytest.mark.parametrize(
    "case",
    load_searches() if os.path.isdir(REF_DIR) else [],
    # without the reference data pytest passes its empty-parameter
    # placeholder here; a fixed id lets the module's skip apply
    ids=lambda c: (
        c.get("comment", "")[:60].replace(" ", "_")
        if isinstance(c, dict)
        else "no_reference_data"
    ),
)
def test_geoshape_search(shape_index, case):
    req = case["search"]
    q = dict(req["query"])
    q.setdefault("field", "region")
    s = Searcher(shape_index)
    res = s.search(
        SearchRequest(
            query=parse_query(q),
            size=req.get("size", 10),
            from_=req.get("from", 0),
            with_total=True,
        )
    )
    got_ids = sorted(r["_id"] for r in res.hits.collect())
    want = case["result"]
    assert res.total == want["total_hits"], case.get("comment")
    want_ids = sorted(h["id"] for h in want.get("hits", []))
    assert got_ids == want_ids, case.get("comment")


# -- round-4: geoshape x version= interplay (round-2 carried note) -----------


def test_geoshape_at_seq_masks_later_shape_update(spark):
    """A geoshape query against a version= snapshot must see the shape
    version live AT that commit: the later upsert of doc 'mover'
    (polygon around Paris -> polygon around Tokyo) is masked in the
    version=0 view and visible at HEAD — segment union + dead-docid
    masking compose with the geoshape relation filter exactly like any
    other query (ref: index/scorch/rollback.go + geoshape searcher)."""
    import json as _json

    from bleve_spark import IndexWriter
    from bleve_spark import query as Qm

    path = "/tmp/bleve_spark_geoshape_at_seq"
    shutil.rmtree(path, ignore_errors=True)

    def poly(lon, lat, d=0.5):
        return _json.dumps(
            {
                "type": "Polygon",
                "coordinates": [[
                    [lon - d, lat - d], [lon + d, lat - d],
                    [lon + d, lat + d], [lon - d, lat + d],
                    [lon - d, lat - d],
                ]],
            }
        )

    paris, tokyo, berlin = (2.35, 48.85), (139.69, 35.68), (13.40, 52.52)
    m = IndexMapping(default_analyzer="keyword", compose_all=False)
    m.add(FieldMapping("region", type="geoshape", index=False))
    w = IndexWriter(spark, m, path)
    # version 0: mover @ paris, anchor @ berlin
    w.batch_index(
        spark.createDataFrame(
            [("mover", poly(*paris)), ("anchor", poly(*berlin))],
            ["id", "region"],
        ),
        id_expr=F.col("id"),
    )
    # version 1: upsert mover -> tokyo (kills the version-0 doc)
    w.batch_index(
        spark.createDataFrame([("mover", poly(*tokyo))], ["id", "region"]),
        id_expr=F.col("id"),
    )

    def hit_ids(index, lon, lat):
        q = Qm.GeoShapeQuery(
            field="region",
            shape={"type": "Point", "coordinates": [lon, lat]},
            relation="intersects",
        )
        res = Searcher(index).search(SearchRequest(query=q, size=10))
        return sorted(r["_id"] for r in res.hits.collect())

    head = SearchIndex(spark, path, m)
    past = SearchIndex(spark, path, m, version=0)
    # HEAD: mover moved to tokyo
    assert hit_ids(head, *tokyo) == ["mover"]
    assert hit_ids(head, *paris) == []
    assert hit_ids(head, *berlin) == ["anchor"]
    # version=0: the paris shape is live, the tokyo segment invisible
    assert hit_ids(past, *paris) == ["mover"]
    assert hit_ids(past, *tokyo) == []
    assert hit_ids(past, *berlin) == ["anchor"]
