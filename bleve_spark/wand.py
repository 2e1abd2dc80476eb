"""Block-max WAND top-k pruning.

The reference engine has no WAND; its analogue is the "unadorned" bitmap
fast path (/root/reference/index/scorch/optimize.go:35-46,157-296). The
north rule demands block-max WAND explicitly, so this module implements
the Spark-native variant over the block-max metadata the build job
already stores per posting block (max_tf, min_len — bleve_spark/build.py
BLOCK_ENC_TYPE).

Key property that makes this exact AND cheap: posting blocks are keyed by
docid-range (block = docid >> shift), so blocks of *different terms
align on the same docid ranges*. The maximum possible score of any doc
in range B is therefore bounded by

    pot(B) = sum over query terms t present in B of ub(t, B)

where ub(t, B) is the largest single-posting score term t can contribute
inside B (computed from max_tf / min_len / idf — both similarities are
monotone increasing in tf and decreasing in field length).

Two-phase exact top-k:
  phase 1  score only the highest-potential blocks (enough to cover >= k
           docs) with the *real* scoring pipeline -> candidate kth score
           theta (a lower bound on the true kth score).
  phase 2  score every block with pot(B) >= theta (superset of all
           blocks that can contain a top-k doc: a doc in a pruned block
           scores <= pot(B) < theta while >= k docs already score >=
           theta) -> global top-k. Ties are safe: pruned docs score
           *strictly* below theta.

Everything is DataFrame-level: the metadata pass scans only the small
scalar columns of `postings` (Parquet column pruning never touches the
binary posting payloads), and the survivor set joins back as a broadcast.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from . import scoring

# Blocks hold up to 2^shift docs; cover this many docs in phase 1 so the
# theta estimate comes from a healthy candidate pool even under deletes /
# sparse blocks.
PHASE1_MIN_DOCS = 4096
PHASE1_MAX_BLOCKS = 512


def _ub_col(
    similarity: str,
    idf: Column,
    mult_col: Column,
    avg_len: float,
) -> Column:
    """Upper bound on one term's single-posting score within a block.

    tfidf:  sqrt(max_tf) * float32(1/sqrt(min_len)) * idf * mult
            (mult = 1, or boost*idf*queryNorm when a composite pushed a
             queryNorm — ref search/scorer/scorer_term.go:92-115)
    bm25 :  mult * (k1+1)*max_tf / (max_tf + k1*(1-b+b*min_len/avgLen))
            (mult = boost*idf)
    """
    max_tf = F.col("max_tf").cast("double")
    min_len = F.greatest(F.col("min_len"), F.lit(1))
    if similarity == scoring.TFIDF:
        norm_ub = (F.lit(1.0) / F.sqrt(min_len)).cast("float").cast("double")
        return F.sqrt(max_tf) * norm_ub * idf * mult_col
    denom = max_tf + F.lit(scoring.BM25_K1) * (
        F.lit(1.0 - scoring.BM25_B)
        + F.lit(scoring.BM25_B)
        * min_len.cast("double")
        / F.lit(max(avg_len, 1e-9))
    )
    return mult_col * max_tf * F.lit(scoring.BM25_K1 + 1.0) / denom


def block_potentials(
    index,
    similarity: str,
    field: str,
    term_idf: Dict[str, float],
    term_mult: Dict[str, float],
    conjunctive: bool,
) -> DataFrame:
    """(block, pot, ndocs) for the query terms' posting blocks.

    Scans only postings metadata columns (column pruning keeps the
    binary payloads unread). For conjunctive queries, blocks missing any
    term are dropped outright — no doc in that docid range can match.
    """
    terms = list(term_idf)
    meta = index.blocks(field, terms).select(
        "term", "block", "df_block", "max_tf", "min_len"
    )
    idf_map = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(term_idf[t]))]
    )
    mult_map = F.create_map(
        *[x for t in terms for x in (F.lit(t), F.lit(term_mult[t]))]
    )
    avg_len = index.avg_len(field)
    with_ub = meta.withColumn(
        "ub", _ub_col(similarity, idf_map[F.col("term")], mult_map[F.col("term")], avg_len)
    )
    pot = with_ub.groupBy("block").agg(
        F.sum("ub").alias("pot"),
        F.sum("df_block").alias("ndocs"),
        # count_distinct, not count: segmented indexes may contribute
        # several rows per (term, block) when segment boundaries are not
        # block-aligned
        F.count_distinct(F.col("term")).alias("nterms_present"),
    )
    if conjunctive:
        pot = pot.where(F.col("nterms_present") >= len(terms))
    return pot.select("block", "pot", "ndocs")


def phase1_blocks(pot: DataFrame, k: int) -> List[int]:
    """Highest-potential blocks covering >= max(k, PHASE1_MIN_DOCS) docs."""
    want = max(k, PHASE1_MIN_DOCS)
    rows = pot.orderBy(F.desc("pot"), "block").limit(PHASE1_MAX_BLOCKS).collect()
    out, covered = [], 0
    for r in rows:
        out.append(int(r["block"]))
        covered += int(r["ndocs"])
        if covered >= want:
            break
    return out


def survivor_blocks(pot: DataFrame, theta: float) -> DataFrame:
    """All blocks whose potential reaches the candidate kth score."""
    return pot.where(F.col("pot") >= theta).select("block")
