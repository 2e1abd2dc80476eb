"""Scorer golden values, ported literally from
/root/reference/search/scorer/scorer_term_test.go:26-170 (F6 in
FIXTURES.md) plus hand-computed BM25(k1=1.2,b=0.75) values."""

import math

import numpy as np

from bleve_spark import scoring


IDF = 1.0 + math.log(100.0 / (9 + 1.0))  # docTotal=100, docFreq=9


def score(similarity, tf, length, idf, boost=1.0, qn=None, avg_len=1.0):
    """One posting's score from the scoring kernel."""
    return float(
        scoring.term_scores(
            similarity, np.array([tf]), np.array([length]), idf, boost, qn,
            avg_len,
        )[0]
    )


def test_term_scorer_simple():
    # freq=1, norm=1 -> sqrt(1)*idf (scorer_term_test.go:40-88)
    assert score(scoring.TFIDF, 1, 1, IDF) == math.sqrt(1.0) * IDF


def test_term_scorer_freq65():
    # freq=65, norm=1 -> sqrt(65)*idf (scorer_term_test.go:121-150)
    assert score(scoring.TFIDF, 65, 1, IDF) == math.sqrt(65) * IDF


def test_term_scorer_with_query_norm():
    # boost=3, queryNorm=2/(3*idf):
    # score = sqrt(1)*idf * 3*idf*queryNorm (scorer_term_test.go:171+)
    qnorm = 2.0 / (3.0 * IDF)
    got = score(scoring.TFIDF, 1, 1, IDF, boost=3.0, qn=qnorm)
    expected = math.sqrt(1.0) * IDF * 3.0 * IDF * qnorm
    assert abs(got - expected) < 1e-12


def test_idf_formula():
    # idf = 1 + ln(N/(df+1)) (scorer_term.go:71)
    assert scoring.idf(scoring.TFIDF, 100, 9) == IDF
    # weight = (boost*idf)^2 (scorer_term.go:92-96)
    assert scoring.term_weight(scoring.TFIDF, 3.0, IDF) == (3.0 * IDF) ** 2


def test_field_norm_is_float32():
    # fieldNorm = float32(1/sqrt(len)) (upsidedown.go:608-609); float64 of
    # the float32 differs from the pure float64 value for len=10
    got = score(scoring.TFIDF, 1, 10, 1.0)
    assert got == float(np.float32(1.0 / math.sqrt(10)))
    assert got != 1.0 / math.sqrt(10)


def test_bm25_hand_computed():
    # N=100, df=9 -> idf_bm25 = ln(1 + (100-9+0.5)/(9+0.5))
    idf = math.log(1.0 + 91.5 / 9.5)
    assert abs(scoring.idf(scoring.BM25, 100, 9) - idf) < 1e-12
    # tf=2, len=10, avg_len=8:
    # tf_part = 2*2.2/(2 + 1.2*(0.25 + 0.75*10/8))
    expected = idf * 2 * 2.2 / (2 + 1.2 * (0.25 + 0.75 * 10.0 / 8.0))
    assert abs(score(scoring.BM25, 2, 10, idf, avg_len=8.0) - expected) < 1e-12


def test_conjunction_sum_and_disjunction_coord():
    # conjunction score = sum of children (scorer_conjunction.go:44-71);
    # disjunction applies coord = matching/total
    # (scorer_disjunction.go:65-66)
    s1 = score(scoring.TFIDF, 1, 1, IDF)
    s2 = score(scoring.TFIDF, 4, 1, IDF)
    assert s1 + s2 == math.sqrt(1) * IDF + math.sqrt(4) * IDF
    coord = 1 / 2
    assert (s1 * coord) == s1 / 2
