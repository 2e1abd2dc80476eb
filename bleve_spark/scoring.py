"""Similarity models.

1. ``tfidf`` — the reference's exact Lucene-classic model, the rank/score
   parity target (/root/reference/search/scorer/scorer_term.go:64-170):
     idf        = 1 + ln(N / (df + 1))
     tf         = sqrt(freq)
     fieldNorm  = float32(1 / sqrt(fieldLength))
     score      = tf * fieldNorm * idf            [ * queryWeight ]
     queryWeight= boost * idf * queryNorm  (only when a composite pushed
                  a queryNorm; ref scorer_term.go:92-115)
     weight     = (boost * idf)^2
     queryNorm  = 1 / sqrt(sum of leaf weights)   (ref:
                  search_conjunction.go:108-120, search_boolean.go:92-103)

2. ``bm25`` — BM25(k1=1.2, b=0.75) per the north rule (absent in the
   reference snapshot; grep bm25 -> zero non-test hits):
     idf   = ln(1 + (N - df + 0.5) / (df + 0.5))
     score = boost * idf * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgLen))
   (no queryNorm/coord — Lucene's BM25 practice.)
"""

from __future__ import annotations

import math

import numpy as np

BM25_K1 = 1.2
BM25_B = 0.75

TFIDF = "tfidf"
BM25 = "bm25"


def idf(similarity: str, n_docs: int, df: int) -> float:
    if similarity == TFIDF:
        # ref: scorer_term.go:71
        return 1.0 + math.log(float(n_docs) / float(df + 1))
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def term_weight(similarity: str, boost: float, idf_val: float) -> float:
    """Leaf weight fed into queryNorm (ref: scorer_term.go:92-96)."""
    if similarity == TFIDF:
        w = boost * idf_val
        return w * w
    return 0.0  # bm25: no queryNorm


def term_scores(
    similarity: str,
    tf,
    length,
    idf,
    boost: float,
    query_norm: float | None,
    avg_len: float,
) -> np.ndarray:
    """Per-posting scores over numpy arrays: the one term scorer, run
    on the driver and inside the Spark tasks alike. `idf` is a scalar or
    one value per posting."""
    tf_d = np.asarray(tf, dtype=np.float64)
    len_d = np.asarray(length, dtype=np.float64)
    if similarity == TFIDF:
        # float32 norm emulation for parity
        # (ref: index/upsidedown/upsidedown.go:608-609)
        norm = (1.0 / np.sqrt(np.maximum(len_d, 1.0))).astype(np.float32)
        score = np.sqrt(tf_d) * norm.astype(np.float64) * idf
        if query_norm is not None:
            # fieldWeight x queryWeight (ref: scorer_term.go:128,149-150)
            score = score * (boost * idf * query_norm)
        return score
    denom = tf_d + BM25_K1 * (
        (1.0 - BM25_B) + BM25_B * len_d / max(avg_len, 1e-9)
    )
    return boost * idf * tf_d * (BM25_K1 + 1.0) / denom
