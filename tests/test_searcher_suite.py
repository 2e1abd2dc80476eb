"""Port of the reference searcher composition tables over the FULL
twoDocIndex fixture (search/searcher/base_test.go:87-115, all four
fields):

- search_boolean_test.go   TestBooleanSearch tests 0-7
- search_conjunction_test.go TestConjunctionSearch tests 0-5
- search_disjunction_test.go TestDisjunctionSearch tests 0-1

Expected doc sets AND scores are the reference's literals (its own
tolerance, scoresCloseEnough = 1e-3); nested queryNorm composition
(each conjunction/disjunction/boolean normalizes its own subtree)
must reproduce them.

Every check runs on both search routes and must hold on each: the
driver-local route (the default gate) and the Spark route, forced with
a zero gate (search.LOCAL_MAX_POSTINGS = 0). Shapes without a local form (regexp, term
range) take the Spark route on both.
"""

import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    FieldMapping,
    IndexBuilder,
    IndexMapping,
    SearchIndex,
    Searcher,
    SearchRequest,
)
from bleve_spark import query as Q, search

_DOCS = [
    # _id, name, desc, street, title  (base_test.go twoDocIndexDocs)
    ("1", "marty", "beer beer beer beer", "couchbase way", None),
    ("2", "steve", "angst beer couch database", "couchbase way", "mister"),
    ("3", "dustin", "apple beer column dank", None, "mister"),
    ("4", "ravi", " ".join(["beer"] * 65), None, None),
    ("5", "bobert", "water", None, "mister"),
]


@pytest.fixture(scope="module")
def two_doc_full(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("twodoc_full") / "idx")
    m = IndexMapping(default_analyzer="simple", dynamic=False)
    for f in ("name", "desc", "street", "title"):
        m.add(FieldMapping(f))
    df = spark.createDataFrame(
        _DOCS, "_id string, name string, desc string, street string, title string"
    )
    IndexBuilder(spark, m, path).build(df, id_expr=F.col("_id"))
    return SearchIndex(spark, path, m)


ROUTES = {"local": search.LOCAL_MAX_POSTINGS, "spark": 0}


def _search(idx, req, route):
    """(hits, total) of `req` on `route`, whose gate ROUTES sets."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(search, "LOCAL_MAX_POSTINGS", ROUTES[route])
        res = Searcher(idx).search(req)
        return res.hits.collect(), res.total


def _scores(idx, q, route):
    hits, _ = _search(idx, SearchRequest(query=q, size=10), route)
    return {r["_id"]: r["score"] for r in hits}


def _check(idx, q, expected):
    for route in ROUTES:
        got = _scores(idx, q, route)
        assert set(got) == set(expected), (route, sorted(got), sorted(expected))
        for doc, want in expected.items():
            # the reference's own tolerance (scoresCloseEnough, 1e-3)
            assert got[doc] == pytest.approx(want, abs=1e-3), (
                route,
                doc,
                got[doc],
                want,
            )


T = Q.TermQuery


# -- search_disjunction_test.go ----------------------------------------------


def test_disjunction_flat(spark, two_doc_full):
    q = Q.DisjunctionQuery(
        disjuncts=[T(field="name", term="marty"), T(field="name", term="dustin")]
    )
    _check(
        two_doc_full,
        q,
        {"1": 0.6775110856165737, "3": 0.6775110856165737},
    )


def test_disjunction_nested(spark, two_doc_full):
    q = Q.DisjunctionQuery(
        disjuncts=[
            T(field="name", term="ravi"),
            Q.DisjunctionQuery(
                disjuncts=[
                    T(field="name", term="marty"),
                    T(field="name", term="dustin"),
                ]
            ),
        ]
    )
    _check(
        two_doc_full,
        q,
        {
            "1": 0.2765927424732821,
            "3": 0.2765927424732821,
            "4": 0.5531854849465642,
        },
    )


# -- search_conjunction_test.go ----------------------------------------------


def test_conjunction_beer_and_marty(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            T(field="desc", term="beer"),
            T(field="name", term="marty", boost=5.0),
        ]
    )
    _check(two_doc_full, q, {"1": 2.0097428702814377})


def test_conjunction_angst_and_beer(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[T(field="desc", term="angst"), T(field="desc", term="beer")]
    )
    _check(two_doc_full, q, {"2": 1.0807601687084403})


def test_conjunction_beer_and_missing_term(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            T(field="desc", term="beer"),
            T(field="name", term="jack", boost=5.0),
        ]
    )
    for route in ROUTES:
        assert _scores(two_doc_full, q, route) == {}, route


def test_conjunction_beer_and_mister(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            T(field="desc", term="beer"),
            T(field="title", term="mister", boost=5.0),
        ]
    )
    _check(
        two_doc_full,
        q,
        {"2": 1.2877980334016337, "3": 1.2877980334016337},
    )


def test_conjunction_couchbase_and_mister(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            T(field="street", term="couchbase"),
            T(field="title", term="mister", boost=5.0),
        ]
    )
    _check(two_doc_full, q, {"2": 1.4436599157093672})


def test_conjunction_nested(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            T(field="desc", term="beer", boost=5.0),
            Q.ConjunctionQuery(
                conjuncts=[
                    T(field="street", term="couchbase"),
                    T(field="title", term="mister", boost=5.0),
                ]
            ),
        ]
    )
    _check(two_doc_full, q, {"2": 1.441614953806971})


# -- search_boolean_test.go ---------------------------------------------------


def test_boolean_must_should_mustnot(spark, two_doc_full):
    q = Q.BooleanQuery(
        must=[T(field="desc", term="beer")],
        should=[T(field="name", term="marty"), T(field="name", term="dustin")],
        must_not=[T(field="name", term="steve")],
    )
    _check(
        two_doc_full,
        q,
        {
            "1": 0.9818005051949021,
            "3": 0.808709699395535,
            "4": 0.34618161159873423,
        },
    )


def test_boolean_should_mustnot_only(spark, two_doc_full):
    q = Q.BooleanQuery(
        should=[T(field="name", term="marty"), T(field="name", term="dustin")],
        must_not=[T(field="name", term="steve")],
    )
    _check(
        two_doc_full,
        q,
        {"1": 0.6775110856165737, "3": 0.6775110856165737},
    )


def test_boolean_mustnot_only_is_matchall_complement(spark, two_doc_full):
    # The RAW searcher yields nothing without must/should
    # (search_boolean_test.go test 2), but at the QUERY level the
    # reference inserts MatchAll(1.0) as the must
    # (query/boolean.go:161-168, the bug-#193 fix) — the engine
    # implements query semantics, so the result is the complement.
    q = Q.BooleanQuery(must_not=[T(field="name", term="steve")])
    for route in ROUTES:
        got = _scores(two_doc_full, q, route)
        assert set(got) == {"1", "3", "4", "5"}, route
        for v in got.values():
            assert v == pytest.approx(1.0, abs=1e-9)


def test_boolean_must_mustnot(spark, two_doc_full):
    q = Q.BooleanQuery(
        must=[T(field="desc", term="beer")],
        must_not=[T(field="name", term="steve")],
    )
    _check(two_doc_full, q, {"1": 1.0, "3": 0.5, "4": 1.0})


def test_boolean_must_two_mustnot(spark, two_doc_full):
    q = Q.BooleanQuery(
        must=[T(field="desc", term="beer")],
        must_not=[
            T(field="name", term="steve"),
            T(field="name", term="marty"),
        ],
    )
    _check(two_doc_full, q, {"3": 0.5, "4": 1.0})


def test_boolean_min_should_unreachable(spark, two_doc_full):
    # should = disjunction(min=2) of two name terms no doc has both of
    q = Q.BooleanQuery(
        must=[T(field="desc", term="beer")],
        should=[T(field="name", term="marty"), T(field="name", term="dustin")],
        min_should=2,
    )
    for route in ROUTES:
        assert _scores(two_doc_full, q, route) == {}, route


def test_conjunction_with_nested_boolean(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            T(field="name", term="marty", boost=5.0),
            Q.BooleanQuery(must=[T(field="desc", term="beer")]),
        ]
    )
    _check(two_doc_full, q, {"1": 2.0097428702814377})


def test_conjunction_with_full_boolean(spark, two_doc_full):
    q = Q.ConjunctionQuery(
        conjuncts=[
            Q.BooleanQuery(
                must=[T(field="desc", term="beer")],
                should=[
                    T(field="name", term="marty"),
                    T(field="name", term="dustin"),
                ],
                must_not=[T(field="name", term="steve")],
            ),
            T(field="name", term="dustin", boost=5.0),
        ]
    )
    _check(two_doc_full, q, {"3": 2.0681575785068107})


# -- search_regexp_test.go ----------------------------------------------------


def test_regexp_name_and_desc(spark, two_doc_full):
    # "ma.*" on name -> marty (doc 1), exact reference score
    _check(
        two_doc_full,
        Q.RegexpQuery(field="name", regexp="ma.*"),
        {"1": 1.916290731874155},
    )
    # "co.*" on desc -> couch (doc 2), column (doc 3)
    _check(
        two_doc_full,
        Q.RegexpQuery(field="desc", regexp="co.*"),
        {"2": 0.33875554280828685, "3": 0.33875554280828685},
    )


# -- search_term_range_test.go (all 11 table cases) ---------------------------


@pytest.mark.parametrize(
    "mn,mx,imn,imx,want",
    [
        ("marty", "marty", True, True, {"1"}),
        ("marty", "ravi", True, True, {"1", "4"}),
        ("marty", "ravi", True, False, {"1"}),
        ("martz", "ravi", True, False, set()),
        ("marty", "ravi", False, True, {"4"}),
        ("marty", "rav", False, True, set()),
        ("marty", None, True, True, {"1", "2", "4"}),
        (None, "ravi", True, True, {"1", "3", "4", "5"}),
        (None, None, True, True, {"1", "2", "3", "4", "5"}),
        (None, None, False, True, {"1", "2", "3", "4", "5"}),
        (None, None, True, False, {"1", "2", "3", "4", "5"}),
    ],
)
def test_term_range_table(spark, two_doc_full, mn, mx, imn, imx, want):
    q = Q.TermRangeQuery(
        field="name",
        min=mn,
        max=mx,
        inclusive_min=imn,
        inclusive_max=imx,
    )
    for route in ROUTES:
        assert set(_scores(two_doc_full, q, route)) == want, route


# -- collector/topn_test.go invariants ----------------------------------------


@pytest.fixture(scope="module")
def tie_index(spark, tmp_path_factory):
    """14 docs with IDENTICAL content -> identical scores
    (TestPaginationSameScores's stub, realized on a real index)."""
    path = str(tmp_path_factory.mktemp("ties") / "idx")
    m = IndexMapping(default_analyzer="simple", dynamic=False).add(
        FieldMapping("body")
    )
    rows = [(chr(ord("a") + i), "same tokens here") for i in range(14)]
    df = spark.createDataFrame(rows, "_id string, body string")
    IndexBuilder(spark, m, path).build(df, id_expr=F.col("_id"))
    return SearchIndex(spark, path, m)


def _page(idx, route, from_, size, with_total=False):
    hits, total = _search(
        idx,
        SearchRequest(
            query=T(field="body", term="same"),
            from_=from_,
            size=size,
            with_total=with_total,
        ),
        route,
    )
    return [r["_id"] for r in hits], total


def test_pagination_same_scores_disjoint_and_total(spark, tie_index):
    # collector/topn_test.go TestPaginationSameScores: equal-score pages
    # must be disjoint and cover everything; total counts all matches
    for route in ROUTES:
        p1, total = _page(tie_index, route, 0, 5, with_total=True)
        assert total == 14
        p2, _ = _page(tie_index, route, 5, 5)
        p3, _ = _page(tie_index, route, 10, 5)
        assert len(p1) == 5 and len(p2) == 5 and len(p3) == 4
        assert len(set(p1) | set(p2) | set(p3)) == 14
        assert not (set(p1) & set(p2)) and not (set(p2) & set(p3))
        # deterministic: the same page re-fetched is identical
        assert p1 == _page(tie_index, route, 0, 5)[0]


def test_skip_past_all_hits_returns_empty(spark, tie_index):
    # TestTop10ScoresSkip10Only9Hits analogue: from_ beyond the match
    # count yields an empty page, not an error
    for route in ROUTES:
        page, total = _page(tie_index, route, 20, 10, with_total=True)
        assert page == [] and total == 14
