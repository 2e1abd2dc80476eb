"""Score explanations: the reference's Explanation tree
(/root/reference/search/explanation.go, scorer_term.go:76-170,
scorer_conjunction.go, scorer_disjunction.go) re-done as a driver-side
per-hit API. Message formats mirror the reference so explanations diff
cleanly against its output.

Usage: `Searcher.explain(query, doc_id)` -> nested dict
{"value", "message", "children"} for one hit. Driver-side by design —
explanations are a debugging surface for individual hits, never a
distributed column (the reference likewise computes them per returned
DocumentMatch).

The trees are built by the plan that search() runs, as the reference
builds them from the scorer tree that produced the score: each planner
in search.py pairs its DataFrame builder with an explain closure over
the same plan-time state, and calls the node builders below. A scored
leaf's closure reads the one doc's postings on the driver (its posting
block, with pyarrow) and runs the same numpy matching as search(). A
tree therefore has the plan's shape (a one-token match is its bare term
node) and its root value is the hit's score."""

from __future__ import annotations

import math
from typing import Dict, List, Optional

import numpy as np


def node(value: float, message: str, children: Optional[List] = None) -> Dict:
    """ref: search/explanation.go Explanation{Value,Message,Children}."""
    out = {"value": float(value), "message": message}
    if children:
        out["children"] = children
    return out


def term_explanation(
    field: str,
    term: str,
    doc_id: str,
    tf: int,
    length: int,
    idf: float,
    df: int,
    n_docs: int,
    boost: float,
    query_norm: Optional[float],
) -> Dict:
    """TF-IDF term score explanation (ref: scorer_term.go:117-170)."""
    tf_v = math.sqrt(tf)
    norm = float(np.float32(1.0 / math.sqrt(max(length, 1))))
    idf_expl = node(idf, f"idf(docFreq={df}, maxDocs={n_docs})")
    field_weight = tf_v * norm * idf
    score_expl = node(
        field_weight,
        f"fieldWeight({field}:{term} in {doc_id}), product of:",
        [
            node(tf_v, f"tf(termFreq({field}:{term})={tf}"),
            node(norm, f"fieldNorm(field={field}, doc={doc_id})"),
            idf_expl,
        ],
    )
    if query_norm is None:
        return score_expl
    query_weight = boost * idf * query_norm
    qw_expl = node(
        query_weight,
        f"queryWeight({field}:{term}^{boost:f}), product of:",
        [
            node(boost, "boost"),
            idf_expl,
            node(query_norm, "queryNorm"),
        ],
    )
    return node(
        field_weight * query_weight,
        f"weight({field}:{term}^{boost:f} in {doc_id}), product of:",
        [qw_expl, score_expl],
    )


def bm25_term_explanation(
    field: str,
    term: str,
    doc_id: str,
    tf: int,
    length: int,
    idf: float,
    df: int,
    n_docs: int,
    boost: float,
    avg_len: float,
) -> Dict:
    """BM25(k1=1.2, b=0.75) term explanation — Lucene-BM25-shaped
    (the reference snapshot has no BM25; this mirrors the shape later
    bleve versions emit for SimilarityModel=bm25)."""
    from . import scoring

    k1, b = scoring.BM25_K1, scoring.BM25_B
    tf_norm = (
        tf * (k1 + 1.0)
        / (tf + k1 * (1.0 - b + b * length / max(avg_len, 1e-9)))
    )
    idf_expl = node(idf, f"idf(docFreq={df}, docCount={n_docs})")
    tf_expl = node(
        tf_norm,
        f"tfNorm(freq={tf}, k1={k1}, b={b}, fieldLength={length}, "
        f"avgFieldLength={avg_len:g})",
    )
    return node(
        boost * idf * tf_norm,
        f"score({field}:{term} in {doc_id}), product of:",
        [node(boost, "boost"), idf_expl, tf_expl],
    )


def constant_explanation(score: float, boost: float) -> Dict:
    """Constant scorer explanation (ref: scorer_constant.go:74-126):
    ConstantScore() = 1.0, wrapped in the queryWeight product when the
    weight (boost x queryNorm) is not 1 — same tree shape as the
    reference. `score` is the engine's actual hit score, so the root
    value always equals what search() returned."""
    score_expl = node(1.0, "ConstantScore()")
    if score == 1.0:
        return score_expl
    query_weight = score  # constant is 1.0, so weight carries the rest
    query_norm = score / boost if boost else 1.0
    qw_expl = node(
        query_weight,
        f"ConstantScore()^{boost:f}, product of:",
        [node(boost, "boost"), node(query_norm, "queryNorm")],
    )
    return node(
        score,
        f"weight(^{boost:f}), product of:",
        [qw_expl, score_expl],
    )


def sum_explanation(doc_id: str, children: List[Dict]) -> Dict:
    """Conjunction: sum of child scores
    (ref: scorer_conjunction.go:44-71)."""
    total = sum(c["value"] for c in children)
    return node(total, f"sum of:", children)


def coord_explanation(
    doc_id: str, children: List[Dict], n_match: int, n_total: int
) -> Dict:
    """Disjunction: sum x coord(countMatch/countTotal)
    (ref: scorer_disjunction.go:46-83)."""
    raw = sum(c["value"] for c in children)
    coord = n_match / n_total
    inner = node(raw, "sum of:", children)
    return node(
        raw * coord,
        f"product of:",
        [inner, node(coord, f"coord({n_match}/{n_total})")],
    )
