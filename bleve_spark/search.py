"""Search planner + executor.

Driver-side "searcher construction" (the reference's planning phase,
/root/reference/index_impl.go:438-507) becomes: resolve terms against the
dictionary (df) and stats (N) — two tiny lookups — then compose a
DataFrame expression tree; Catalyst picks the physical strategy. Execution
(the reference's collector pull loop, search/collector/topn.go:159-280)
becomes a distributed scan of the pruned posting blocks, each task
decoding and scoring its blocks with the driver route's numpy code and
sending back only (docid, score), + global top-k via ORDER BY ... LIMIT
(TakeOrderedAndProject = per-partition top-k then driver merge, the
exact analogue of bleve's collector + MultiSearch merge,
index_alias_impl.go:506-525).

Iterator -> DataFrame mapping (SURVEY.md §2.4):
  term scorer          -> mapInPandas: decode + scoring.term_scores
  conjunction zipper   -> inner join on docid, score sum
  disjunction heap     -> unionByName + groupBy(docid), coord factor
  boolean must/not     -> left-semi/left-anti joins
  phrase positions     -> encoded blocks grouped by their stored block
                          column, decode + the numpy phrase kernel
  dictionary automaton -> predicates on the dictionary table

The same plan also runs on the driver when its posting set is small
(the Searcher docstring): the same numpy code over pyarrow reads of the
index files, closest to the reference's in-process iterators, with no
Spark job.
"""

from __future__ import annotations

import copy
import math
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import explain as E
from . import query as Q
from . import scoring
from . import wand
from .analysis import get_analyzer
from .highlight import HighlightRequest, highlight_value
from .index import SCORED_SCHEMA, SearchIndex, _decode_batch


# Maximum clauses a multi-term expansion / disjunction may produce;
# 0 = unlimited, matching the reference default
# (ref: search/searcher/search_disjunction.go:25-28).
DisjunctionMaxClauseCount = 0

# Gate of the driver-local route: a plan with a local form runs on the
# driver while it decodes fewer postings than this; 0 sends every plan
# to Spark. search() end to end (search + collect, median of 3 warm
# runs, 1 for a Spark run past 20 s) on a 4-core host, over generated code corpora of 20,000 and
# 100,000 docs, local route vs Spark route: terms of 6k-100k postings
# 0.05-0.24 s vs 0.75-1.74 s; OR matches of 0.26, 0.51, 1.09, 2.03 and
# 4.05 M postings 0.32, 0.41, 0.99, 1.40 and 3.79 s vs 7.7, 16.9, 9.9,
# 23.9 and 36.4 s. The local route won at every size measured, so the
# gate is the largest size measured, not a crossover: above it (and
# for one term above 100k postings) the split is unmeasured, and the
# gate also bounds the postings the driver holds in memory.
LOCAL_MAX_POSTINGS = 4_000_000
# a posting decoded with its positions, in plain postings. Exact
# phrases on a generated 100,000-doc corpus, measured as above: 60k,
# 90k, 154k, 197k-200k, 299k, 499k and 991k postings took 0.21, 0.27,
# 0.38, 0.79-1.76, 1.38, 3.40 and 4.44 s locally vs 1.93, 2.55, 2.01,
# 2.26-3.04, 2.48, 4.58 and 6.33 s on Spark. The local route won at
# every size, so phrases run locally up to the largest size measured,
# 1M = LOCAL_MAX_POSTINGS / 4; the 991k phrase peaked at 1.5 GB of
# driver RSS there.
POSITIONS_COST = 4

# ref: search/searcher/search_fuzzy.go:25 (var MaxFuzziness = 2) — the
# reference caps the Levenshtein automaton at distance 2 and rejects
# negative fuzziness; error strings match NewFuzzySearcher's.
MaxFuzziness = 2


def _check_fuzziness(fuzziness: int) -> None:
    if fuzziness > MaxFuzziness:
        raise ValueError(f"fuzziness exceeds max ({MaxFuzziness})")
    if fuzziness < 0:
        raise ValueError("invalid fuzziness, negative")


class TooManyClausesError(Exception):
    """ref: search/searcher/search_disjunction.go:112-115."""

    def __init__(self, field: str, count: int, limit: int):
        super().__init__(
            f"TooManyClauses over field: `{field}` [{count} > "
            f"maxClauseCount, which is set to {limit}]"
        )
        self.field = field
        self.count = count
        self.limit = limit


@dataclass
class FacetRequest:
    """ref: search/facets_builder.go + facet/facet_builder_*.go."""

    field: str
    size: int = 10
    numeric_ranges: Optional[List[dict]] = None  # [{"name","min","max"}]
    date_ranges: Optional[List[dict]] = None  # [{"name","start","end"}]


@dataclass
class KNNRequest:
    """ref: search_knn.go:42-49 (KNNRequest: field/vector/k/boost).
    Scored over the stored vector column by the field mapping's
    similarity metric: "l2_norm" (reference default — score is the
    inverted squared distance, scorer_knn.go:71-75), "dot_product"
    (raw inner product), or the engine-extension "cosine". Unmapped
    ad-hoc vector columns score normalized cosine."""

    field: str
    vector: Sequence[float]
    k: int = 10
    boost: float = 1.0


@dataclass
class SearchRequest:
    """ref: search_no_knn.go:48-85 (SearchRequest)."""

    query: Q.Query
    size: int = 10
    from_: int = 0
    sort: Sequence[str] = ("-_score", "_id")
    fields: Sequence[str] = ()
    facets: Dict[str, FacetRequest] = dc_field(default_factory=dict)
    # "tfidf" or "bm25"; None scores with the Searcher's similarity
    similarity: Optional[str] = None
    search_after: Optional[Sequence] = None
    search_before: Optional[Sequence] = None
    highlight: Optional[HighlightRequest] = None
    # compute the exact matched-doc count (SearchResult.total). Disables
    # WAND pruning — a pruned scan cannot count what it skipped.
    with_total: bool = False
    # attach per-hit term locations (ref: SearchRequest.IncludeLocations,
    # search/search.go DocumentMatch.Locations)
    include_locations: bool = False
    # vector searches disjunction-merged with the main query
    # (ref: search_knn.go:165)
    knn: Sequence["KNNRequest"] = ()


@dataclass
class SearchResult:
    hits: DataFrame  # ordered: docid, _id, score, requested fields
    facets: Dict[str, DataFrame] = dc_field(default_factory=dict)
    total: Optional[int] = None  # ref: search/search.go:146-176 Total


def _phrase_path_exists(pos_by_slot, deltas, nslots, slop) -> bool:
    """Position-chain check of one doc: the phrase kernel's per-doc test
    of sloppy chains, and the reference its vectorized exact match is
    tested against. ref findPhrasePaths (search_phrase.go:381-440):
    exact chains intersect shifted position sets; sloppy chains DFS
    with |prevPos+1 - pos| charged to the budget, out-of-order allowed,
    no location reuse."""
    if len(pos_by_slot) < nslots:
        return False
    if slop == 0:
        cur = set(pos_by_slot[0])
        for i, d in enumerate(deltas, 1):
            cur = {p + d for p in cur} & pos_by_slot[i]
            if not cur:
                return False
        return True

    def dfs(slot_i, prev_pos, budget, used):
        if slot_i == nslots:
            return True
        want = prev_pos + deltas[slot_i - 1]
        for p in pos_by_slot[slot_i]:
            if p in used:
                continue
            dev = abs(p - want)
            if dev <= budget and dfs(slot_i + 1, p, budget - dev, used | {p}):
                return True
        return False

    return any(dfs(1, p0, slop, frozenset((p0,))) for p0 in pos_by_slot[0])


def _phrase_hits(
    rows, positions, slots, deltas, slop, term_idf, boost, qn, avg_len,
    similarity,
):
    """The one phrase matcher and scorer: the local route, the Spark
    route (per posting block) and explain() all call it. `rows` is a
    docid-closed frame of decoded postings (term, docid, tf, length; one
    row per doc and term) and `positions` their flat positions, row i
    owning the next tf[i] values, as `index._decode_batch` returns them.
    `slots` is [(alternative terms, position)], `deltas` the position
    steps between consecutive slots and `term_idf` {term: idf}. Returns
    the docs with a phrase path, (docids, scores): docids sorted and
    unique (int64), scores float64.

    Exact phrases match vectorized: each slot's (doc, position - slot
    offset) keys, unique per slot, are intersected across slots, and a
    key every slot holds is a phrase start. A key packs the doc's rank among
    the candidates with the shifted position, less the batch's least;
    when that could overflow int64 it packs the position's rank among
    the batch's distinct shifted positions, which keeps it below n^2
    for n positions held in memory. Sloppy phrases run
    `_phrase_path_exists` per candidate doc. A doc scores the sum of
    its slot scores in slot order (ref: the conjunction scorer); a slot
    with alternatives sums them in alternative order and, in tfidf
    mode, takes the disjunction coord matched/len(alts) (ref:
    scorer_disjunction.go:65-66)."""
    nslots = len(slots)
    docids = rows["docid"].to_numpy(np.int64)
    in_slot = [rows["term"].isin(alts).to_numpy() for alts, _p in slots]
    # candidates: docs where every slot has an alternative
    cand = np.unique(docids[in_slot[0]])
    for m in in_slot[1:]:
        cand = np.intersect1d(cand, docids[m])
    if not len(cand):
        return _no_hits()
    # per slot, the candidate rows' positions (read from the flat
    # layout as they lie) and each position's doc rank among cand
    rank = np.searchsorted(cand, docids)
    is_cand = np.isin(docids, cand)
    tf = rows["tf"].to_numpy(np.int64)
    by_slot = []
    for m in in_slot:
        m = m & is_cand
        by_slot.append((np.repeat(rank[m], tf[m]), positions[np.repeat(m, tf)]))
    if slop == 0:
        for (_r, p), d in zip(by_slot, np.cumsum([0, *deltas]).tolist()):
            p -= d  # the kernel's own copies: shift them in place
        lo = min(int(p.min()) for _r, p in by_slot)
        span = max(int(p.max()) for _r, p in by_slot) - lo + 1
        if len(cand) * span >= 2**63:
            # positions too far apart to pack: pack their ranks instead
            inv = np.unique(
                np.concatenate([p for _r, p in by_slot]), return_inverse=True
            )[1]
            ends = np.cumsum([len(p) for _r, p in by_slot])
            by_slot = [
                (r, p) for (r, _p), p in zip(by_slot, np.split(inv, ends[:-1]))
            ]
            lo, span = 0, int(inv.max()) + 1
        # a key every slot holds starts a phrase; each slot's keys are
        # made and intersected in turn, so one slot's arrays are live
        common = None
        while by_slot:
            r, p = by_slot.pop(0)
            k = np.unique(r * span + (p - lo))
            common = k if common is None else np.intersect1d(
                common, k, assume_unique=True
            )
        matched = cand[np.unique(common // span)]
    else:
        # each slot's positions in doc order, with every candidate's
        # [lo, hi) slice
        slices = []
        for r, p in by_slot:
            order = np.argsort(r, kind="stable")
            r, p = r[order], p[order]
            slices.append(
                (
                    p,
                    np.searchsorted(r, np.arange(len(cand))),
                    np.searchsorted(r, np.arange(len(cand)), "right"),
                )
            )
        ok = [
            _phrase_path_exists(
                [set(p[lo[k]:hi[k]].tolist()) for p, lo, hi in slices],
                deltas, nslots, slop,
            )
            for k in range(len(cand))
        ]
        matched = cand[np.array(ok, dtype=bool)]
    if not len(matched):
        return _no_hits()
    keep = np.isin(docids, matched)
    rows = rows[keep]
    at = np.searchsorted(matched, docids[keep])
    terms = rows["term"].to_numpy()
    scores = scoring.term_scores(
        similarity,
        rows["tf"].to_numpy(),
        rows["length"].to_numpy(),
        rows["term"].map(term_idf).to_numpy(np.float64),
        boost,
        qn,
        avg_len,
    )
    total = np.zeros(len(matched))
    for alts, _p in slots:
        slot_sum = np.zeros(len(matched))
        hit = np.zeros(len(matched), dtype=np.int64)
        for t in alts:
            m = terms == t
            s = np.zeros(len(matched))
            s[at[m]] = scores[m]
            slot_sum = slot_sum + s
            hit[at[m]] += 1
        if similarity == scoring.TFIDF:
            slot_sum = slot_sum * hit / len(alts)
        total = total + slot_sum
    return matched, total


class _Plan:
    """A planned sub-searcher: carries the leaf-weight sum (for queryNorm),
    a builder closure build(query_norm, blocks) -> DataFrame(docid,
    score), an explainer explain(query_norm, docid, doc_id) -> the
    explanation tree of that one doc's score, or None when the doc does
    not match, and a terms closure -> {field: index terms the plan
    matches}, which highlighting and include_locations mark. All of them
    read the same plan-time state (term sets, idf, weights, phrase
    slots), so an explanation's value is the score search() gives and a
    highlight marks the terms that scored. A leaf's build, explain and
    local decode with `index._decode_batch` and score with the same
    numpy code (`scoring.term_scores`; `_phrase_hits` for a phrase):
    build inside the Spark tasks, local on the driver, and explain on
    the driver over the one doc's posting block.

    `wand` is (field, leaves, conjunctive) with leaves [(term, boost,
    idf, df)] when the plan is a term leaf, or a conjunction/disjunction
    of term leaves on one field, that block-max WAND can prune; such a
    plan's build honours `blocks`, a survivor block set its term leaves
    restrict their decode to. Every other plan ignores `blocks`.

    `local(query_norm) -> (docids, scores)` runs the plan on the driver
    over the index's pyarrow readers, with no Spark job: docids sorted
    and unique (int64), scores float64. It is None for shapes with no
    local form (expansions other than prefix, constant scorers, filters
    and composites over any of them). `postings` is the number of
    postings the local form decodes (one decoded with positions counts
    POSITIONS_COST), which the search() cost gate reads."""

    empty = False  # set on the plan of a query that matches nothing

    def __init__(
        self, weight: float, build, explain, terms=dict, wand=None,
        local=None, postings=0,
    ):
        self.weight = weight
        self._build = build
        self.explain = explain
        self._terms = terms
        self.wand = wand
        self.local = local
        self.postings = postings

    def df(self, query_norm: Optional[float], blocks=None) -> DataFrame:
        return self._build(query_norm, blocks)

    def terms(self) -> Dict[str, set]:
        """{field: index terms}, fields in first-seen order; computed on
        the first call (an expansion's term list costs a Spark job)."""
        if callable(self._terms):
            self._terms = self._terms()
        return self._terms


def _union_terms(plans: Sequence[_Plan]) -> Dict[str, set]:
    out: Dict[str, set] = {}
    for p in plans:
        for fld, ts in p.terms().items():
            out.setdefault(fld, set()).update(ts)
    return out


def _composite_wand(children: Sequence[_Plan], conjunctive: bool):
    """The WAND shape of a conjunction/disjunction: set only when every
    child is a term leaf on one field and the terms are distinct. A
    disjunction's empty children (terms absent from the dictionary) add
    no leaf and keep their share of the coord."""
    kids = [c for c in children if conjunctive or not c.empty]
    if not kids or any(c.wand is None or len(c.wand[1]) != 1 for c in kids):
        return None
    fields = {c.wand[0] for c in kids}
    leaves = [c.wand[1][0] for c in kids]
    if len(fields) != 1 or len({leaf[0] for leaf in leaves}) != len(leaves):
        return None
    return fields.pop(), leaves, conjunctive


def _no_hits():
    return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)


def _by_docid(docids: np.ndarray, scores: np.ndarray):
    """Per-doc (docids, score sums, match counts) of (docid, score)
    rows, summed in row order."""
    uniq, inv = np.unique(docids, return_inverse=True)
    return (
        uniq,
        np.bincount(inv, weights=scores, minlength=len(uniq)),
        np.bincount(inv, minlength=len(uniq)),
    )


def _locals(plans: Sequence[_Plan]):
    """The plans' local closures, or None unless every plan has one."""
    if any(p.local is None for p in plans):
        return None
    return [p.local for p in plans]


def _has_docid(df: DataFrame, docid: int) -> bool:
    """Whether a DataFrame with a docid column holds `docid`."""
    return bool(df.where(F.col("docid") == docid).limit(1).collect())


class Searcher:
    """Plans a query once and runs the plan on one of two routes.

    The driver-local route runs `plan.local` with numpy over the index's
    pyarrow readers and wraps the page as a local DataFrame: no Spark
    job, `hits.collect()` included. search() takes it when the plan has
    a local form (term, match, phrase, conjunction, disjunction, boolean
    and prefix plans), the request needs nothing Spark-only (facets,
    kNN, highlight, include_locations, search_after/before, a sort that
    is not score-first) and the plan decodes fewer postings than the
    module's LOCAL_MAX_POSTINGS (4 M; a posting read with its positions
    counts POSITIONS_COST = 4). Both figures are measured end to end,
    in their comment. Otherwise the Spark route runs `plan.df`; setting
    LOCAL_MAX_POSTINGS to 0 forces it. Both routes read the same
    plan-time state, so they return the same ids in the same order and
    the same scores; a phrase matches and scores with one kernel,
    `_phrase_hits`, on the driver and in each Spark task."""

    def __init__(
        self,
        index: SearchIndex,
        similarity: str = scoring.TFIDF,
        wand_min_postings: int = 50_000_000,
        knn_lsh_min_docs: int = 1_000_000,
        knn_lsh_probe: int = 2,
    ):
        self.index = index
        self.similarity = similarity
        # SearchRequest.knn scans the corpus exhaustively below
        # knn_lsh_min_docs (one vectorized pass; exact) and switches to
        # multi-table multi-probe hyperplane-LSH candidate buckets
        # above it (ops.similarity's LSH_N_TABLES tables of
        # LSH_N_PLANES planes, the ones build time persists) — per
        # table scanning ~(sum_{i<=probe} C(planes,i))/2^planes of the
        # data, with recall 1-(1-p_table)^tables. Probe 2 scores ~0.8%
        # of the corpus; measured recall@10 at 10^6 vectors in
        # BASELINE.md. probe == planes (16) gives exact recall (full
        # scan).
        self.knn_lsh_min_docs = knn_lsh_min_docs
        self.knn_lsh_probe = knn_lsh_probe
        # block-max WAND engages only when the query's summed df clears
        # this floor. Cost model (measured, BASELINE.md): the pruning
        # adds ~2 extra driver jobs (metadata agg + phase-1 theta) worth
        # seconds of fixed latency, while the vectorized decode it avoids
        # runs at tens of millions of postings/sec — break-even lands
        # near 10^8 postings. Below that (every sandbox-scale corpus)
        # exhaustive scoring is faster; at 100 TB hot terms clear it.
        self.wand_min_postings = wand_min_postings

    # ------------------------------------------------------------------
    def default_field(self) -> str:
        m = self.index.mapping
        if m is not None and m.compose_all:
            return m.default_field  # "_all" (ref: mapping/index.go:34)
        if m is not None and m.text_fields():
            return m.text_fields()[0].name
        return "content"

    def _analyzer_for(self, field: str, override: Optional[str]) -> str:
        if override:
            return override
        m = self.index.mapping
        return m.analyzer_for(field) if m else "standard"

    def _empty(self) -> DataFrame:
        return self.index.docs.select(
            F.col("docid"), F.lit(0.0).alias("score")
        ).limit(0)

    def _empty_plan(self) -> _Plan:
        plan = _Plan(
            0.0, lambda qn, blocks: self._empty(), lambda *_: None,
            local=lambda qn: _no_hits(),
        )
        plan.empty = True
        return plan

    def _term_expl(self, fld, term, doc_id, tf, length, idf, df, boost, qn):
        if self.similarity == scoring.TFIDF:
            return E.term_explanation(
                fld, term, doc_id, tf, length, idf, df,
                self.index.doc_count, boost, qn,
            )
        return E.bm25_term_explanation(
            fld, term, doc_id, tf, length, idf, df, self.index.doc_count,
            boost, self.index.avg_len(fld),
        )

    # -- leaf planners --------------------------------------------------

    def _restricted_blocks(self, fld, terms, blocks):
        """Posting blocks for (fld, terms), optionally cut down to a WAND
        survivor set — a literal id list (tiny phase-1 sets) or a
        broadcast-joined DataFrame(block) (phase-2 survivors)."""
        src = self.index.blocks(fld, terms)
        if blocks is None:
            return src
        if isinstance(blocks, list):
            return src.where(F.col("block").isin(blocks))
        return src.join(F.broadcast(blocks), "block")

    def _plan_term(self, fld: str, term: str, boost: float) -> _Plan:
        stats = self.index.term_stats(fld, [term])
        if term not in stats:
            return self._empty_plan()
        df_count, _cf = stats[term]
        idf = scoring.idf(self.similarity, self.index.doc_count, df_count)
        weight = scoring.term_weight(self.similarity, boost, idf)
        avg_len = self.index.avg_len(fld)
        # score() runs in Spark tasks too, so it must not hold self
        similarity = self.similarity

        def score(p, qn):
            return scoring.term_scores(
                similarity, p["tf"].to_numpy(), p["length"].to_numpy(), idf,
                boost, qn, avg_len,
            )

        def build(qn, blocks):
            return self.index.scored(
                self._restricted_blocks(fld, [term], blocks),
                lambda p: score(p, qn),
            )

        def explain(qn, docid, doc_id):
            p, _ = self.index.read_postings(fld, [term], docid=docid)
            if not len(p):
                return None
            return self._term_expl(
                fld, term, doc_id, int(p["tf"].iat[0]),
                int(p["length"].iat[0]), idf, df_count, boost, qn,
            )

        def local(qn):
            p, _ = self.index.read_postings(fld, [term])
            order = np.argsort(p["docid"].to_numpy(), kind="stable")
            return p["docid"].to_numpy()[order], score(p, qn)[order]

        return _Plan(
            weight,
            build,
            explain,
            lambda: {fld: {term}},
            (fld, [(term, boost, idf, df_count)], False),
            local,
            df_count,
        )

    def _plan_multi_term(
        self,
        fld: str,
        predicate: Column,
        boost: float,
        prefix: Optional[str] = None,
    ) -> _Plan:
        """Dictionary-expansion queries (prefix/wildcard/regexp/fuzzy/
        term_range) -> disjunction of term searchers (ref:
        searcher/search_multi_term.go).

        DataFrame-native: the matching dictionary slice never reaches the
        driver. One small agg job yields the slice's term count per df,
        from which the driver sums (clause count, queryNorm weight); at
        execution the same predicate filters the postings scan (prefix
        predicates push down to parquet), the slice joins its per-term
        df to the encoded blocks, and each Spark task scores its
        postings with idf per distinct df. A 1-char prefix over millions
        of dictionary terms therefore costs one small agg on the driver,
        not a million-entry literal plan.

        Clause guard parity (ref: search_multi_term.go:96-98,
        search_disjunction.go:105-115): when DisjunctionMaxClauseCount
        is nonzero and the expansion exceeds it, raises
        TooManyClausesError exactly like the reference (whose default is
        also 0 = unlimited, search_disjunction.go:28).

        A prefix (the `prefix` argument) whose slice holds fewer than
        LOCAL_MAX_POSTINGS rows reads it on the driver instead, as a
        row-group-pruned range read: the slice gives (clause count,
        weight) with no Spark job, and the plan gets a local form over
        the slice's terms. Every slice term has a posting, so a larger
        slice could never run locally; it is not read, and the plan is
        the Spark agg's as for any other expansion."""
        n_docs = self.index.doc_count
        # score() runs in Spark tasks too, so it must not hold self
        similarity = self.similarity
        got = None
        if prefix is not None:
            got = self.index.prefix_terms(fld, prefix, LOCAL_MAX_POSTINGS)
        if got is not None:
            slice_terms, dfs = got
            term_df = dict(zip(slice_terms, dfs.tolist()))
            n_terms = len(slice_terms)
            weight = sum(
                scoring.term_weight(
                    similarity, boost, scoring.idf(similarity, n_docs, d)
                )
                for d in term_df.values()
            )
        else:
            by_df = self.index.expansion(fld, predicate).groupBy("df").count().collect()
            n_terms = sum(r["count"] for r in by_df)
            weight = sum(
                r["count"] * scoring.term_weight(
                    similarity, boost, scoring.idf(similarity, n_docs, r["df"])
                )
                for r in by_df
            )
        if DisjunctionMaxClauseCount and n_terms > DisjunctionMaxClauseCount:
            raise TooManyClausesError(fld, n_terms, DisjunctionMaxClauseCount)
        if n_terms == 0:
            return self._empty_plan()
        avg_len = self.index.avg_len(fld)

        def score(p, qn):
            # each posting carries its term's df: idf per distinct df
            codes, uniq = pd.factorize(p["df"])
            idf = np.array([scoring.idf(similarity, n_docs, int(d)) for d in uniq])
            return scoring.term_scores(
                similarity, p["tf"].to_numpy(), p["length"].to_numpy(),
                idf[codes], boost, qn, avg_len,
            )

        def build(qn, _blocks):
            # known expansion cardinality picks the join strategy: small
            # slices broadcast; huge ones shuffle (AQE re-plans at runtime)
            slice_df = self.index.expansion(fld, predicate)
            if n_terms <= 65536:
                slice_df = F.broadcast(slice_df)
            blocks = self.index.postings.where(
                (F.col("field") == fld) & predicate
            ).join(slice_df, "term")
            agg = (
                self.index.scored(blocks, lambda p: score(p, qn), ["df"])
                .groupBy("docid")
                .agg(F.sum("score").alias("sum_score"), F.count("*").alias("nmatch"))
            )
            score_col = F.col("sum_score")
            if similarity == scoring.TFIDF:
                # disjunction coord (ref: scorer/scorer_disjunction.go:65-66)
                score_col = score_col * F.col("nmatch") / F.lit(n_terms)
            return agg.select("docid", score_col.alias("score"))

        def explain(qn, docid, doc_id):
            p, _ = self.index.read_postings(
                fld, slice_terms if got is not None else None, docid=docid
            )
            if not len(p):
                return None
            # the df of the doc's terms that the expansion holds
            known = term_df if got is not None else dict(
                self.index.expansion(fld, predicate)
                .where(F.col("term").isin(p["term"].tolist()))
                .collect()
            )
            rows = sorted(
                (t, int(tf), int(length))
                for t, tf, length in zip(p["term"], p["tf"], p["length"])
                if t in known
            )
            if not rows:
                return None
            kids = [
                self._term_expl(
                    fld, t, doc_id, tf, length,
                    scoring.idf(similarity, n_docs, known[t]), known[t],
                    boost, qn,
                )
                for t, tf, length in rows
            ]
            if similarity == scoring.TFIDF:
                return E.coord_explanation(doc_id, kids, len(kids), n_terms)
            return E.sum_explanation(doc_id, kids)

        def terms():
            # driver-side and capped: only highlight/locations ask
            expanded = self.index.expand_terms(fld, predicate)
            return {fld: {t for t, _df in expanded}}

        def local(qn):
            p, _ = self.index.read_postings(fld, slice_terms)
            p["df"] = p["term"].map(term_df)
            docids, total, nmatch = _by_docid(p["docid"].to_numpy(), score(p, qn))
            if similarity == scoring.TFIDF:
                total = total * nmatch / n_terms
            return docids, total

        if got is None:
            return _Plan(weight, build, explain, terms)
        return _Plan(
            weight, build, explain, terms, local=local,
            postings=int(dfs.sum()),
        )

    def _plan_const(self, docids_df: DataFrame, boost: float) -> _Plan:
        """Constant scorer (ref: scorer/scorer_constant.go)."""

        def score(qn):
            return float(boost) * (qn if qn is not None else 1.0)

        def build(qn, _blocks):
            return docids_df.select("docid", F.lit(score(qn)).alias("score"))

        def explain(qn, docid, doc_id):
            if not _has_docid(docids_df, docid):
                return None
            return E.constant_explanation(score(qn), boost)

        # constant scorer weight = boost^2 (ref: scorer_constant.go)
        w = boost * boost if self.similarity == scoring.TFIDF else 0.0
        return _Plan(w, build, explain)

    # -- composite planners ---------------------------------------------

    def _plan_conjunction(self, children: List[_Plan]) -> _Plan:
        weight = sum(c.weight for c in children)

        def build(qn, blocks):
            dfs = [c.df(qn, blocks) for c in children]
            out = dfs[0].select("docid", F.col("score").alias("s0"))
            for i, d in enumerate(dfs[1:], 1):
                out = out.join(
                    d.select("docid", F.col("score").alias(f"s{i}")), "docid"
                )
            total = sum(F.col(f"s{i}") for i in range(len(dfs)))
            return out.select("docid", total.alias("score"))

        def explain(qn, docid, doc_id):
            kids = []
            for c in children:
                e = c.explain(qn, docid, doc_id)
                if e is None:
                    return None
                kids.append(e)
            return E.sum_explanation(doc_id, kids)

        kids = _locals(children)

        def local(qn):
            docids, score = kids[0](qn)
            for kid in kids[1:]:
                if not len(docids):
                    break
                d, s = kid(qn)
                docids, i, j = np.intersect1d(
                    docids, d, assume_unique=True, return_indices=True
                )
                score = score[i] + s[j]
            return docids, score

        return _Plan(
            weight,
            build,
            explain,
            lambda: _union_terms(children),
            _composite_wand(children, True),
            local if kids else None,
            sum(c.postings for c in children),
        )

    def _plan_disjunction(self, children: List[_Plan], min_match: int) -> _Plan:
        weight = sum(c.weight for c in children)
        total = len(children)
        min_match = max(min_match, 1)

        def build(qn, blocks):
            # only a WAND-shaped (min_match 1) disjunction gets blocks
            parts = [c.df(qn, blocks) for c in children]
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            agg = u.groupBy("docid").agg(
                F.sum("score").alias("sum_score"), F.count("*").alias("nmatch")
            )
            score = F.col("sum_score")
            if self.similarity == scoring.TFIDF:
                score = score * F.col("nmatch") / F.lit(total)
            out = agg
            if min_match > 1:
                out = out.where(F.col("nmatch") >= min_match)
            return out.select("docid", score.alias("score"))

        def explain(qn, docid, doc_id):
            kids = [c.explain(qn, docid, doc_id) for c in children]
            kids = [e for e in kids if e is not None]
            if len(kids) < min_match:
                return None
            if self.similarity == scoring.TFIDF:
                return E.coord_explanation(doc_id, kids, len(kids), total)
            return E.sum_explanation(doc_id, kids)

        kids = _locals(children)

        def local(qn):
            parts = [kid(qn) for kid in kids]
            docids, score, nmatch = _by_docid(
                np.concatenate([d for d, _s in parts]),
                np.concatenate([s for _d, s in parts]),
            )
            if self.similarity == scoring.TFIDF:
                score = score * nmatch / total
            if min_match > 1:
                keep = nmatch >= min_match
                docids, score = docids[keep], score[keep]
            return docids, score

        return _Plan(
            weight,
            build,
            explain,
            lambda: _union_terms(children),
            _composite_wand(children, False) if min_match == 1 else None,
            local if kids else None,
            sum(c.postings for c in children),
        )

    def _plan_boolean(
        self,
        must: List[_Plan],
        should: List[_Plan],
        must_not: List[_Plan],
        min_should: int,
    ) -> _Plan:
        """ref: searcher/search_boolean.go:37-330."""
        weight = sum(c.weight for c in must) + sum(c.weight for c in should)
        must_plan = self._plan_conjunction(must) if must else None
        should_plan = (
            self._plan_disjunction(should, min_should) if should else None
        )
        # min_should == 0: should is an optional score bonus. min_should
        # > 0: should becomes REQUIRED — the reference only lets a
        # must-only doc through "when shouldSearcher.Min() == 0"
        # (search_boolean.go:282-290), so a doc failing the
        # min-disjunction is excluded even if every must clause matches.
        should_required = min_should > 0 or must_plan is None

        def build(qn, _blocks):
            base = must_plan.df(qn) if must_plan is not None else None
            should_df = should_plan.df(qn) if should_plan is not None else None
            if base is None:
                base = should_df
                should_df = None
            if base is None:
                if must_not:
                    # must_not-only boolean = match_all minus exclusions
                    # (ref bug #193 fix, searcher/search_boolean.go: nil
                    # must/should -> match-all base searcher)
                    base = self.index.docs.select(
                        "docid", F.lit(1.0).alias("score")
                    )
                else:
                    return self._empty()
            if should_df is not None:
                how = "inner" if should_required else "left"
                base = (
                    base.join(
                        should_df.select(
                            "docid", F.col("score").alias("_should_score")
                        ),
                        "docid",
                        how,
                    )
                    .withColumn(
                        "score",
                        F.col("score")
                        + F.coalesce(F.col("_should_score"), F.lit(0.0)),
                    )
                    .drop("_should_score")
                )
            for mn in must_not:
                base = base.join(
                    mn.df(None).select("docid"), "docid", "left_anti"
                )
            return base

        def explain(qn, docid, doc_id):
            kids = []
            if must_plan is not None:
                e = must_plan.explain(qn, docid, doc_id)
                if e is None:
                    return None
                kids.append(e)
            if should_plan is not None:
                e = should_plan.explain(qn, docid, doc_id)
                if e is not None:
                    kids.append(e)
                elif should_required:
                    return None
            if not kids:
                if not must_not:
                    return None
                kids.append(E.constant_explanation(1.0, 1.0))
            if any(_has_docid(mn.df(None), docid) for mn in must_not):
                return None
            return kids[0] if len(kids) == 1 else E.sum_explanation(doc_id, kids)

        parts = [p for p in (must_plan, should_plan) if p is not None]
        kids = _locals(parts + must_not)
        postings = sum(p.postings for p in parts + must_not)
        if not parts and must_not:
            postings += self.index.doc_count  # the match-all base

        def local(qn):
            base = must_plan.local(qn) if must_plan is not None else None
            should_hits = (
                should_plan.local(qn) if should_plan is not None else None
            )
            if base is None:
                base, should_hits = should_hits, None
            if base is None:
                if not must_not:
                    return _no_hits()
                live = self.index.live_docids()
                base = live, np.ones(len(live))
            docids, score = base
            if should_hits is not None:
                sd, ss = should_hits
                _, i, j = np.intersect1d(
                    docids, sd, assume_unique=True, return_indices=True
                )
                if should_required:
                    docids, score = docids[i], score[i] + ss[j]
                else:
                    bonus = np.zeros(len(docids))
                    bonus[i] = ss[j]
                    score = score + bonus
            for mn in must_not:
                keep = ~np.isin(docids, mn.local(None)[0])
                docids, score = docids[keep], score[keep]
            return docids, score

        # must_not terms are left out: they never match a hit
        return _Plan(
            weight,
            build,
            explain,
            lambda: _union_terms(must + should),
            local=local if kids is not None else None,
            postings=postings,
        )

    def _plan_phrase(
        self,
        fld: str,
        slot_terms: List[Tuple[Tuple[str, ...], int]],
        boost: float,
        slop: int,
    ) -> _Plan:
        """(Multi-)phrase = conjunction of per-slot searchers (a slot with
        alternatives is a disjunction, ref: searcher/search_phrase.go:
        80-140 NewMultiPhraseSearcher) + position-chain check (ref:
        findPhrasePaths, search_phrase.go:356-440). slot_terms is
        [(alternative terms, analyzed_position)] — stop-filter position
        gaps carry through as larger deltas; array-element position
        strides keep chains from spanning elements (the ArrayPositions
        equality stand-in, search_phrase.go:414)."""
        slots = [
            (tuple(dict.fromkeys(alts)), pos) for alts, pos in slot_terms
        ]
        all_terms = list(
            dict.fromkeys(t for alts, _ in slots for t in alts)
        )
        stats = self.index.term_stats(fld, all_terms)
        # conjunction: every slot needs at least one indexed alternative
        if any(
            not any(t in stats for t in alts) for alts, _ in slots
        ):
            return self._empty_plan()
        present = [t for t in all_terms if t in stats]
        n = self.index.doc_count
        avg_len = self.index.avg_len(fld)
        term_idf = {
            t: scoring.idf(self.similarity, n, stats[t][0]) for t in present
        }
        weight = sum(
            scoring.term_weight(self.similarity, boost, i)
            for i in term_idf.values()
        )
        deltas = [
            slots[i][1] - slots[i - 1][1] for i in range(1, len(slots))
        ]
        # hits() runs in Spark tasks too, so it must not hold self
        similarity = self.similarity

        def hits(rows, positions, qn):
            return _phrase_hits(
                rows, positions, slots, deltas, slop, term_idf, boost, qn,
                avg_len, similarity,
            )

        def build(qn, _blocks):
            # block-intersection prefilter — the conjunction-bitmap
            # analogue (ref: index/scorch/optimize.go:25-92
            # OptimizeTFRConjunction): posting blocks are docid-range
            # aligned, so every phrase candidate doc lives in a block
            # where EVERY slot has postings. Intersecting the slots'
            # block-id sets is a metadata-only scan (no decode, no
            # pos_enc read) that prunes the expensive positions decode
            # to co-occurring ranges — at 100 TB a rare slot shrinks a
            # hot slot's decode to its own neighborhoods.
            # cost gate: the prefilter's metadata scan only pays when a
            # selective slot can actually prune a hot one (df ratio)
            slot_dfs = [
                sum(stats[t][0] for t in alts if t in stats)
                for alts, _p in slots
            ]
            selective = min(slot_dfs) * 4 < max(slot_dfs)
            blocks_src = self.index.blocks(fld, present)
            if len(slots) > 1 and selective:
                common = None
                for alts, _p in slots:
                    ts = [t for t in alts if t in stats]
                    bi = (
                        self.index.blocks(fld, ts)
                        .select("block")
                        .distinct()
                    )
                    common = bi if common is None else common.join(bi, "block")
                blocks_src = blocks_src.join(common, "block")

            def kernel(pdf):
                d, sc = hits(*_decode_batch(pdf), qn)
                return pd.DataFrame({"docid": d, "score": sc})

            # a posting block holds every posting of its docs: each task
            # decodes and matches one block's encoded rows
            cols = ["term", "block", "docids_enc", "tfs_enc", "lens_enc", "pos_enc"]
            return self.index.live(
                blocks_src.select(*cols)
                .groupBy("block")
                .applyInPandas(kernel, SCORED_SCHEMA)
            )

        def explain(qn, docid, doc_id):
            rows, positions = self.index.read_postings(
                fld, present, need_positions=True, docid=docid
            )
            if not len(hits(rows, positions, qn)[0]):
                return None
            by_term = {
                t: (int(tf), int(length))
                for t, tf, length in zip(rows["term"], rows["tf"], rows["length"])
            }
            slot_kids = []
            for alts, _p in slots:
                kids = [
                    self._term_expl(
                        fld, t, doc_id, *by_term[t], term_idf[t], stats[t][0],
                        boost, qn,
                    )
                    for t in alts
                    if t in by_term
                ]
                if len(alts) == 1:
                    slot_kids.append(kids[0])
                elif self.similarity == scoring.TFIDF:
                    slot_kids.append(
                        E.coord_explanation(doc_id, kids, len(kids), len(alts))
                    )
                else:
                    slot_kids.append(E.sum_explanation(doc_id, kids))
            if len(slot_kids) == 1:
                return slot_kids[0]
            return E.sum_explanation(doc_id, slot_kids)

        def local(qn):
            return hits(
                *self.index.read_postings(fld, present, need_positions=True), qn
            )

        return _Plan(
            weight,
            build,
            explain,
            lambda: {fld: set(present)},
            local=local,
            postings=POSITIONS_COST * sum(stats[t][0] for t in present),
        )

    # -- query dispatch --------------------------------------------------

    def plan(self, q: Q.Query) -> _Plan:
        fld = q.field or self.default_field()
        b = q.boost
        if isinstance(q, Q.TermQuery):
            return self._plan_term(fld, q.term, b)
        if isinstance(q, Q.MatchQuery):
            analyzer = get_analyzer(self._analyzer_for(fld, q.analyzer))
            tokens = analyzer.analyze(q.text)
            if not tokens:
                return self._empty_plan()
            # one dictionary read for all terms; per-term planners then
            # hit the memo instead of reading it N times
            self.index.term_stats(fld, [t[0] for t in tokens])
            if q.fuzziness > 0:
                children = [
                    self._plan_multi_term(
                        fld,
                        _fuzzy_predicate(t[0], q.fuzziness, q.prefix_length),
                        b,
                    )
                    for t in tokens
                ]
            else:
                children = [self._plan_term(fld, t[0], b) for t in tokens]
            if len(children) == 1:
                return children[0]
            if q.operator == "and":
                return self._plan_conjunction(children)
            return self._plan_disjunction(children, 1)
        if isinstance(q, Q.MatchPhraseQuery):
            analyzer = get_analyzer(self._analyzer_for(fld, q.analyzer))
            tokens = analyzer.analyze(q.text)
            if not tokens:
                return self._empty_plan()
            slot_terms = [((t[0],), t[1]) for t in tokens]
            return self._plan_phrase(fld, slot_terms, b, q.slop)
        if isinstance(q, Q.PhraseQuery):
            # terms entries are strings (phrase) or lists of alternatives
            # per slot (multi_phrase, ref: query/multi_phrase.go)
            slot_terms = [
                (
                    tuple(t) if isinstance(t, (list, tuple)) else (t,),
                    i + 1,
                )
                for i, t in enumerate(q.terms)
            ]
            return self._plan_phrase(fld, slot_terms, b, q.slop)
        if isinstance(q, Q.PrefixQuery):
            return self._plan_multi_term(
                fld, self._expansion_predicate(q), b, q.prefix
            )
        if isinstance(
            q,
            (
                Q.WildcardQuery,
                Q.RegexpQuery,
                Q.FuzzyQuery,
                Q.TermRangeQuery,
            ),
        ):
            return self._plan_multi_term(
                fld, self._expansion_predicate(q), b
            )
        if isinstance(q, Q.NumericRangeQuery):
            col = F.col(fld).cast("double")
            pred = F.lit(True)
            if q.min is not None:
                pred = pred & (col >= q.min if q.inclusive_min else col > q.min)
            if q.max is not None:
                pred = pred & (col <= q.max if q.inclusive_max else col < q.max)
            return self._plan_const(
                self.index.docs.where(pred).select("docid"), b
            )
        if isinstance(q, Q.DateRangeQuery):
            # endpoints resolve driver-side through the named datetime
            # parser registry (ref: query/date_range_string.go +
            # analysis/datetime/*); the default is dateTimeOptional
            from datetime import datetime as _dt, timezone as _tz

            from .analysis.datetimes import datetime_parser_named

            parser = datetime_parser_named(
                q.datetime_parser or "dateTimeOptional"
            )

            def _endpoint(v):
                if v is None:
                    return None
                if isinstance(v, str):
                    v = parser.parse(v)
                if isinstance(v, _dt) and v.tzinfo is not None:
                    # compare in naive UTC like the stored docvalues
                    v = v.astimezone(_tz.utc).replace(tzinfo=None)
                return v

            col = F.col(fld).cast("timestamp")
            pred = F.lit(True)
            start, end = _endpoint(q.start), _endpoint(q.end)
            if start is not None:
                s = F.lit(start)
                pred = pred & (col >= s if q.inclusive_start else col > s)
            if end is not None:
                e = F.lit(end)
                pred = pred & (col <= e if q.inclusive_end else col < e)
            return self._plan_const(
                self.index.docs.where(pred).select("docid"), b
            )
        if isinstance(q, Q.BoolFieldQuery):
            return self._plan_const(
                self.index.docs.where(
                    F.col(fld).cast("boolean") == q.value
                ).select("docid"),
                b,
            )
        if isinstance(q, Q.DocIDQuery):
            return self._plan_const(
                self.index.docs.where(F.col("_id").isin(list(q.ids))).select(
                    "docid"
                ),
                b,
            )
        if isinstance(q, Q.FilterQuery):
            # FilteringSearcher analogue (ref: searcher/search_filter.go)
            # — the declarative form: semi-join the child's hits with
            # the predicate-filtered doc set
            child = self.plan(q.child)
            keep = self.index.docs.where(F.expr(q.predicate)).select("docid")

            def explain_filtered(qn, docid, doc_id):
                if not _has_docid(keep, docid):
                    return None
                return child.explain(qn, docid, doc_id)

            return _Plan(
                child.weight,
                lambda qn, _blocks: child.df(qn).join(
                    keep, "docid", "left_semi"
                ),
                explain_filtered,
                child.terms,
            )
        if isinstance(q, Q.IPRangeQuery):
            # CIDR containment over the 16-byte packed form of the
            # stored address — the columnar replacement for the
            # reference's 16-byte IP terms (query/ip_range.go +
            # searcher/search_ip_range.go). IPv4 is handled natively
            # (dotted-quad -> int range predicate, whole-stage codegen);
            # IPv6 packs via an Arrow-batched UDF and compares as
            # binary (unsigned lexicographic), v4-mapped like the
            # reference. A bare address means /32 (v4) or /128 (v6).
            import ipaddress

            is_v6 = ":" in q.cidr
            cidr = (
                q.cidr
                if "/" in q.cidr
                else q.cidr + ("/128" if is_v6 else "/32")
            )
            net = ipaddress.ip_network(cidr, strict=False)
            if not is_v6:
                parts = F.split(F.col(fld), "\\.")
                packed = (
                    parts.getItem(0).cast("long") * 16777216
                    + parts.getItem(1).cast("long") * 65536
                    + parts.getItem(2).cast("long") * 256
                    + parts.getItem(3).cast("long")
                )
                pred = (packed >= int(net.network_address)) & (
                    packed <= int(net.broadcast_address)
                )
            else:
                @F.pandas_udf(T.BinaryType())
                def pack16(vals: pd.Series) -> pd.Series:
                    def pk(v):
                        try:
                            a = ipaddress.ip_address(v)
                        except (ValueError, TypeError):
                            return None
                        if a.version == 4:
                            a = ipaddress.IPv6Address(
                                "::ffff:" + str(a)
                            )
                        return a.packed

                    return vals.map(pk)

                lo = net.network_address.packed
                hi = net.broadcast_address.packed
                col16 = pack16(F.col(fld))
                pred = (col16 >= F.lit(lo)) & (col16 <= F.lit(hi))
            return self._plan_const(
                self.index.docs.where(pred).select("docid"), b
            )
        if isinstance(q, Q.GeoShapeQuery):
            from . import geoshape as GS

            qshape = GS.parse_shape(q.shape)
            relation = q.relation
            docs = self.index.docs
            bbox_col = f"{fld}__bbox"
            if bbox_col in docs.columns:
                # native prefilter (the s2 covering-token analogue):
                # every relation implies bbox intersection, so this
                # prunes in whole-stage codegen before any geometry UDF
                x1, y1, x2, y2 = qshape.bbox()
                bb = F.col(bbox_col)
                docs = docs.where(
                    (bb["minx"] <= x2)
                    & (bb["maxx"] >= x1)
                    & (bb["miny"] <= y2)
                    & (bb["maxy"] >= y1)
                )
            col = F.col(fld)
            try:
                if isinstance(docs.schema[fld].dataType, T.StructType):
                    col = F.to_json(col)
            except Exception:
                pass

            @F.pandas_udf(T.BooleanType())
            def rel_udf(vals: pd.Series) -> pd.Series:
                def ok(v):
                    s = GS.shape_from_value(v)
                    return s is not None and GS.relate(s, qshape, relation)

                return vals.map(ok)

            return self._plan_const(
                docs.where(rel_udf(col)).select("docid"), b
            )
        if isinstance(
            q, (Q.GeoDistanceQuery, Q.GeoBoundingBoxQuery, Q.GeoPolygonQuery)
        ):
            from . import geo

            lat_col = F.col(f"{fld}.lat")
            lon_col = F.col(f"{fld}.lon")
            if isinstance(q, Q.GeoDistanceQuery):
                lat, lon = geo.parse_point(q.location)
                pred = geo.haversine_m(
                    lat_col, lon_col, lat, lon
                ) <= geo.parse_distance(q.distance)
            elif isinstance(q, Q.GeoBoundingBoxQuery):
                tl_lat, tl_lon = geo.parse_point(q.top_left)
                br_lat, br_lon = geo.parse_point(q.bottom_right)
                pred = (
                    (lat_col <= tl_lat)
                    & (lat_col >= br_lat)
                    & (lon_col >= tl_lon)
                    & (lon_col <= br_lon)
                )
            else:
                verts = [geo.parse_point(p) for p in q.polygon_points]
                pred = geo.in_polygon(lat_col, lon_col, verts)
            return self._plan_const(
                self.index.docs.where(pred).select("docid"), b
            )
        if isinstance(q, Q.MatchAllQuery):
            return self._plan_const(self.index.docs.select("docid"), b)
        if isinstance(q, Q.MatchNoneQuery):
            return self._empty_plan()
        if isinstance(q, Q.ConjunctionQuery):
            self._prefetch_term_stats(q.conjuncts)
            return self._plan_conjunction([self.plan(c) for c in q.conjuncts])
        if isinstance(q, Q.DisjunctionQuery):
            self._prefetch_term_stats(q.disjuncts)
            return self._plan_disjunction(
                [self.plan(c) for c in q.disjuncts], q.min
            )
        if isinstance(q, Q.BooleanQuery):
            self._prefetch_term_stats(q.must + q.should + q.must_not)
            return self._plan_boolean(
                [self.plan(c) for c in q.must],
                [self.plan(c) for c in q.should],
                [self.plan(c) for c in q.must_not],
                q.min_should,
            )
        raise NotImplementedError(type(q).__name__)

    def _prefetch_term_stats(self, children):
        """Warm the (field, term) stats memo with ONE dictionary lookup
        per field for all sibling term leaves."""
        by_field: Dict[str, List[str]] = {}
        for c in children:
            if isinstance(c, Q.TermQuery):
                by_field.setdefault(
                    c.field or self.default_field(), []
                ).append(c.term)
        for f, ts in by_field.items():
            self.index.term_stats(f, ts)

    def _expansion_predicate(self, q: Q.Query):
        """Dictionary-slice predicate for an expansion query."""
        if isinstance(q, Q.PrefixQuery):
            return F.col("term").startswith(q.prefix)
        if isinstance(q, Q.WildcardQuery):
            return F.col("term").rlike(_wildcard_to_regex(q.wildcard))
        if isinstance(q, Q.RegexpQuery):
            return F.col("term").rlike(f"^(?:{q.regexp})$")
        if isinstance(q, Q.FuzzyQuery):
            return _fuzzy_predicate(q.term, q.fuzziness, q.prefix_length)
        if isinstance(q, Q.TermRangeQuery):
            pred = F.lit(True)
            if q.min is not None:
                pred = pred & (
                    F.col("term") >= q.min
                    if q.inclusive_min
                    else F.col("term") > q.min
                )
            if q.max is not None:
                pred = pred & (
                    F.col("term") <= q.max
                    if q.inclusive_max
                    else F.col("term") < q.max
                )
            return pred
        raise NotImplementedError(type(q).__name__)

    # -- execution -------------------------------------------------------

    def matches(self, q: Q.Query) -> DataFrame:
        """DataFrame(docid, score) for a query."""
        plan = self.plan(q)
        return plan.df(self._query_norm(q, plan))

    def _query_norm(self, q: Q.Query, plan: _Plan) -> Optional[float]:
        """The queryNorm a top-level query pushes to its leaves.
        Composites push queryNorm to leaves (ref:
        search_conjunction.go:108-120); a bare TERM leaf scores without
        queryNorm, exactly like the reference — but multi-term
        EXPANSIONS (prefix/wildcard/regexp/fuzzy/term_range) compile to
        a disjunction whose constructor computes its own queryNorm
        (search_disjunction_slice.go:75,104-116), so they norm even at
        the top level (reference regexp table: "co.*" scores 0.33875...,
        which includes 1/sqrt(sum of idf^2)). A filter never scores
        (ref: searcher/search_filter.go), so its child norms as if
        searched alone."""
        while isinstance(q, Q.FilterQuery):
            q = q.child
        if (
            self.similarity == scoring.TFIDF
            and isinstance(
                q,
                (
                    Q.ConjunctionQuery,
                    Q.DisjunctionQuery,
                    Q.BooleanQuery,
                    Q.MatchQuery,
                    Q.MatchPhraseQuery,
                    Q.PhraseQuery,
                    Q.PrefixQuery,
                    Q.WildcardQuery,
                    Q.RegexpQuery,
                    Q.FuzzyQuery,
                    Q.TermRangeQuery,
                ),
            )
            and plan.weight > 0
        ):
            return 1.0 / math.sqrt(plan.weight)
        return None

    # -- block-max WAND top-k (north rule; bleve_spark/wand.py) ----------

    def _wand_scored(
        self, plan: _Plan, qn: Optional[float], k: int
    ) -> Optional[DataFrame]:
        """Exact top-k scoring over WAND-surviving posting blocks, or
        None to fall back to the plain path. Both phases run `plan`
        itself with its term leaves restricted to a block set, so scores
        are identical by construction — only blocks provably below the
        kth score are skipped."""
        if plan.wand is None or k <= 0:
            return None
        fld, leaves, conjunctive = plan.wand
        if sum(df for _t, _b, _idf, df in leaves) < self.wand_min_postings:
            return None
        term_idf = {t: idf for t, _b, idf, _df in leaves}
        if self.similarity == scoring.TFIDF:
            term_mult = {
                t: (b * idf * qn if qn is not None else 1.0)
                for t, b, idf, _df in leaves
            }
        else:
            term_mult = {t: b * idf for t, b, idf, _df in leaves}

        pot = wand.block_potentials(
            self.index, self.similarity, fld, term_idf, term_mult, conjunctive
        )
        p1 = wand.phase1_blocks(pot, k)
        if not p1:
            return None
        rows = plan.df(qn, p1).orderBy(F.desc("score")).limit(k).collect()
        if len(rows) < k:
            return None  # too few candidates to bound theta — no pruning
        theta = min(r["score"] for r in rows)
        if not (theta > 0):
            return None
        return plan.df(qn, wand.survivor_blocks(pot, theta))

    # -- highlighting -----------------------------------------------------

    def _apply_highlight(
        self, page: DataFrame, req: SearchRequest, plan: _Plan
    ):
        """Add <field>_fragments array columns to the (tiny) page — the
        LoadAndHighlightFields analogue (ref: index_impl.go:659-714).
        Marks the index terms the plan matches; with no fields named,
        highlights the fields those terms are on, as the reference
        highlights the fields that have locations."""
        hl = req.highlight
        if hl is None:
            return page, []
        terms = plan.terms()
        fields = list(hl.fields) or list(terms) or [self.default_field()]
        fields = [f for f in fields if f in page.columns]
        pre, post = hl.tags()
        escape = hl.escape_content()

        def make_udf(analyzer, terms):
            @F.pandas_udf(T.ArrayType(T.StringType()))
            def hl_udf(content: pd.Series) -> pd.Series:
                return content.map(
                    lambda c: highlight_value(
                        c,
                        analyzer,
                        terms,
                        hl.fragment_size,
                        hl.max_fragments,
                        pre,
                        post,
                        escape,
                    )
                )

            return hl_udf

        extra = []
        for fld in fields:
            analyzer = get_analyzer(self._analyzer_for(fld, None))
            col = f"{fld}_fragments"
            page = page.withColumn(
                col, make_udf(analyzer, terms.get(fld, set()))(F.col(fld))
            )
            extra.append(col)
        return page, extra

    def _sort_key_col(self, spec: dict, df: DataFrame) -> Column:
        """Sort-spec -> key column (ref: search/sort.go SortField/
        SortScore/SortDocID). Multi-valued (array) fields pick their
        min/max element per `mode` (sort.go SortFieldMode)."""
        if spec["by"] == "score":
            return F.col("score")
        if spec["by"] == "id":
            return F.col("_id")
        if spec["by"] == "geo_distance":  # ref: search/sort.go SortGeoDistance
            from . import geo

            lat, lon = geo.parse_point(spec["location"])
            name = spec["field"]
            return geo.haversine_m(
                F.col(f"{name}.lat"), F.col(f"{name}.lon"), lat, lon
            )
        name = spec["field"]
        col = F.col(name)
        try:
            dt = df.schema[name].dataType
        except Exception:
            dt = None
        if isinstance(dt, T.ArrayType):
            col = (
                F.array_max(col)
                if spec.get("mode") == "max"
                else F.array_min(col)
            )
        return col

    LOCATIONS_TYPE = T.MapType(
        T.StringType(),
        T.MapType(
            T.StringType(),
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("pos", T.IntegerType()),
                        T.StructField("start", T.IntegerType()),
                        T.StructField("end", T.IntegerType()),
                        T.StructField(
                            "array_positions", T.ArrayType(T.LongType())
                        ),
                    ]
                )
            ),
        ),
    )

    def _apply_locations(self, page: DataFrame, plan: _Plan):
        """Add a `locations` column: field -> term -> [{pos, start, end,
        array_positions}] (ref: search/search.go:146-176 Locations,
        employee suite expectations) for the index terms the plan
        matches. Like the reference, offsets are BYTE offsets into the
        field value; positions restart per array element with
        array_positions identifying the element. Re-derived by analyzing
        only the k page rows (term vectors stay columnar)."""
        terms_by_field = plan.terms()
        fields = [
            f for f in list(terms_by_field) or [self.default_field()]
            if f in page.columns
        ]
        if not fields:
            return page, []
        analyzers = {
            f: get_analyzer(self._analyzer_for(f, None)) for f in fields
        }

        def locate_value(analyzer, terms, value):
            def one(text, apos):
                out = {}
                if not isinstance(text, str):
                    return out
                # char->byte offset map only where needed
                for t in analyzer.analyze(text):
                    if t[0] in terms:
                        start_b = len(text[: t[2]].encode("utf-8"))
                        end_b = start_b + len(
                            text[t[2] : t[3]].encode("utf-8")
                        )
                        out.setdefault(t[0], []).append(
                            {
                                "pos": t[1],
                                "start": start_b,
                                "end": end_b,
                                "array_positions": apos,
                            }
                        )
                return out

            merged: dict = {}
            if isinstance(value, str):
                merged = one(value, None)
            elif value is not None:
                for i, el in enumerate(value):
                    for term, locs in one(el, [i]).items():
                        merged.setdefault(term, []).extend(locs)
            return merged or None

        @F.pandas_udf(self.LOCATIONS_TYPE)
        def locations_udf(*cols: pd.Series) -> pd.Series:
            out = []
            for row in zip(*cols):
                by_field = {}
                for f, v in zip(fields, row):
                    got = locate_value(
                        analyzers[f], terms_by_field.get(f, set()), v
                    )
                    if got:
                        by_field[f] = got
                out.append(by_field or None)
            return pd.Series(out)

        page = page.withColumn(
            "locations", locations_udf(*[F.col(f"`{f}`") for f in fields])
        )
        return page, ["locations"]

    def explain(self, q: Q.Query, doc_id: str) -> Optional[dict]:
        """Per-hit score explanation tree (ref: SearchRequest.Explain ->
        DocumentMatch.Expl, scorer_term.go:117-170,
        scorer_constant.go:74-126), or None when the doc does not exist
        or does not match. Like the reference, which explains with the
        scorer tree that produced the score, this walks the plan that
        search() runs: it resolves the doc's docid, plans `q` with
        plan(), and calls the plan's explain closure with the same
        queryNorm matches() uses. Each node reuses what its planner
        computed (term sets, idf, weights, phrase slots, the expansion
        size), so every query type search() plans is explained in both
        similarities, and the tree has the plan's shape. One Spark job
        looks up the docid; term, phrase and prefix leaves then read
        the doc's posting block on the driver with pyarrow. A prefix
        planned on the Spark side and the other expansions also collect
        the df of the doc's terms from the dictionary, and constant,
        filter and must_not leaves test the doc's membership, one small
        Spark job each."""
        doc_id = str(doc_id)
        doc = (
            self.index.docs.where(F.col("_id") == doc_id)
            .select("docid")
            .collect()
        )
        if not doc:
            return None
        plan = self.plan(q)
        return plan.explain(self._query_norm(q, plan), doc[0]["docid"], doc_id)

    def search(self, req: SearchRequest) -> SearchResult:
        if req.similarity is not None and req.similarity != self.similarity:
            # never mutate shared planner state — two concurrent requests
            # with different similarities must not race; plan through a
            # per-request clone instead
            clone = copy.copy(self)
            clone.similarity = req.similarity
            return clone.search(req)
        plan = self.plan(req.query)
        qn = self._query_norm(req.query, plan)
        scored = None
        score_first_sort = (
            len(req.sort) > 0
            and req.sort[0] == "-_score"
            and all(s in ("-_score", "_id", "+_id") for s in req.sort)
        )
        if (
            plan.local is not None
            and plan.postings < LOCAL_MAX_POSTINGS
            and score_first_sort
            and not req.facets
            and not req.knn
            and req.highlight is None
            and not req.include_locations
            and req.search_after is None
            and req.search_before is None
            and self._local_fields(req.fields)
        ):
            return self._search_local(req, plan, qn)
        if (
            not req.facets
            and not req.with_total
            and not req.knn
            and req.search_after is None
            and score_first_sort
        ):
            scored = self._wand_scored(plan, qn, req.from_ + req.size)
        if scored is None:
            scored = plan.df(qn)
        for kr in req.knn:
            # top-k by the field's similarity metric over the stored
            # vector column, then disjunction-merge with the query hits
            # (score sum — ref: search_knn.go:165 knn hits merged as a
            # disjunction). Metric comes from the vector FieldMapping
            # (ref: mapping/field.go:74-79, default l2_norm per
            # util/knn.go:31); an unmapped ad-hoc vector column keeps
            # the engine's historical normalized-cosine scoring.
            # Above knn_lsh_min_docs, candidates come from the
            # multi-probe LSH buckets instead of a full corpus scan
            # (the wand_min_postings cost-model pattern: the bucket
            # UDF pass only pays off once the corpus dwarfs it).
            # The hyperplane-LSH prefilter is an ANGULAR family, so it
            # applies to cosine always, and to dot_product only when
            # the FieldMapping declares unit_norm=True (dot == cosine
            # there); non-unit dot_product and l2_norm take the exact
            # scan. At cluster scale, unit-normalize the embeddings and
            # set unit_norm to get the bucket route.
            from .mapping import (
                COSINE,
                COSINE_SIMILARITY,
                EUCLIDEAN_DISTANCE,
                validate_vector_field,
            )
            from .ops.similarity import (
                cosine_to_query,
                dot_to_query,
                l2sq_to_query,
                lsh_candidates_tables,
            )

            metric = COSINE
            unit_norm = False
            fm = (
                self.index.mapping.fields.get(kr.field)
                if self.index.mapping is not None
                else None
            )
            if fm is not None and fm.type == "vector":
                metric = validate_vector_field(fm).similarity
                unit_norm = bool(fm.unit_norm)

            # LSH is angular: sound for cosine always, for dot_product
            # only when the field is declared unit-norm (then dot ==
            # cosine). Non-unit dot_product (MIPS) and l2_norm take the
            # exact scan — a never-probed bucket can hold the true
            # max-inner-product / nearest-l2 neighbor.
            lsh_safe = metric == COSINE or (
                metric == COSINE_SIMILARITY and unit_norm
            )
            cand = self.index.docs
            if lsh_safe and self.index.doc_count >= self.knn_lsh_min_docs:
                pre = f"{kr.field}__buckets"
                if pre in cand.columns:
                    # vector-mapped field: buckets were persisted at
                    # build time — candidate selection is a pure-JVM
                    # bitcount filter, no per-query matmul over the
                    # corpus. (Drop any unrelated user column named
                    # "buckets" first; the reserved <field>__buckets
                    # wins.)
                    if "buckets" in cand.columns:
                        cand = cand.drop("buckets")
                    cand = cand.withColumnRenamed(pre, "buckets")
                cand = lsh_candidates_tables(
                    cand,
                    kr.vector,
                    probe_hamming=self.knn_lsh_probe,
                    vec_col=kr.field,
                )
            if metric == EUCLIDEAN_DISTANCE:
                # FAISS L2 reports squared distance; the reference KNN
                # scorer inverts it into a similarity score
                # (scorer_knn.go:71-75: score = 1/distance, +Inf on an
                # exact match like Go float division)
                sim_col = F.when(
                    F.col("l2sq") == 0.0, F.lit(float("inf"))
                ).otherwise(F.lit(1.0) / F.col("l2sq"))
                knn_scored = l2sq_to_query(cand, kr.vector, kr.field)
            elif metric == COSINE_SIMILARITY:
                sim_col = F.col("dot")
                knn_scored = dot_to_query(cand, kr.vector, kr.field)
            else:
                sim_col = F.col("cos")
                knn_scored = cosine_to_query(cand, kr.vector, kr.field)
            knn_scored = (
                knn_scored.select(
                    "docid",
                    (sim_col * F.lit(kr.boost)).alias("score"),
                )
                .orderBy(F.desc("score"), "docid")
                .limit(kr.k)
            )
            scored = (
                scored.unionByName(knn_scored)
                .groupBy("docid")
                .agg(F.sum("score").alias("score"))
            )
        total = scored.count() if req.with_total else None
        hits = scored.join(self.index.docs, "docid")
        if req.facets:
            # the page job and each facet job all consume the matched
            # set — cache it instead of recomputing per job
            hits = hits.persist()

        specs = _parse_sort_specs(req.sort)
        key_cols = [self._sort_key_col(sp, hits) for sp in specs]
        sort_cols = [
            _order_col(c, sp["desc"], sp["missing"])
            for c, sp in zip(key_cols, specs)
        ]

        out_cols = ["docid", "_id", F.col("score").alias("score")] + [
            c for c in req.fields
        ]
        if req.search_after is not None or req.search_before is not None:
            # keyset paging (ref: collector/topn.go:88-109): keep rows
            # strictly after/before the tuple in sort order —
            # lexicographic (c1 > a1) OR (c1 = a1 AND c2 > a2) OR ...,
            # with > flipped per-column for descending sorts. Unlike
            # offset paging this is a pushed-down predicate: deep pages
            # stay O(k). search_after/before imply from=0
            # (ref: search_no_knn.go:48-85, index_impl.go:448-461).
            if req.search_before is not None:
                # reverse-execute then restore order, like the reference
                pred = _keyset_pred(
                    specs, key_cols, req.search_before, flip=True
                )
                flipped = [
                    _order_col(
                        c,
                        not sp["desc"],
                        "first" if sp["missing"] == "last" else "last",
                    )
                    for c, sp in zip(key_cols, specs)
                ]
                page = hits.where(pred).orderBy(*flipped).limit(req.size)
                page = page.orderBy(*sort_cols)
            else:
                pred = _keyset_pred(specs, key_cols, req.search_after)
                page = hits.where(pred).orderBy(*sort_cols).limit(req.size)
        else:
            # global top-k: TakeOrderedAndProject (per-partition top-k +
            # driver merge — the collector/MultiSearch-merge analogue)
            page = hits.orderBy(*sort_cols).limit(req.from_ + req.size)
            if req.from_ > 0:
                # offset paging over the tiny top-(from+size) set
                from pyspark.sql import Window

                page = (
                    page.withColumn(
                        "_rn", F.row_number().over(Window.orderBy(*sort_cols))
                    )
                    .where(F.col("_rn") > req.from_)
                    .drop("_rn")
                )
        page, hl_cols = self._apply_highlight(page, req, plan)
        if req.include_locations:
            page, loc_cols = self._apply_locations(page, plan)
            hl_cols = hl_cols + loc_cols
        page = page.select(*out_cols, *hl_cols)
        page, facets = self._finish_faceted(hits, page, req)
        return SearchResult(hits=page, facets=facets, total=total)

    def _local_fields(self, fields: Sequence[str]) -> bool:
        """Whether the local route can fetch `fields`: distinct top-level
        docs columns other than the ones a hit always carries."""
        if not fields:
            return True
        names = set(self.index.docs_schema.fieldNames())
        return len(set(fields)) == len(fields) and set(fields) <= (
            names - {"docid", "_id", "score"}
        )

    def _search_local(
        self, req: SearchRequest, plan: _Plan, qn: Optional[float]
    ) -> SearchResult:
        """Run `plan` on the driver and wrap its page as a local
        DataFrame, whose collect() starts no Spark job. Top-k under the
        default sort: keep every doc scoring at least the k-th score, so
        ties at the page boundary are all kept, then order by (score
        desc, _id asc) and cut."""
        docids, scores = plan.local(qn)
        total = len(docids) if req.with_total else None
        k = req.from_ + req.size
        if k <= 0:
            docids, scores = _no_hits()
        elif k < len(scores):
            kth = np.partition(scores, len(scores) - k)[len(scores) - k]
            keep = scores >= kth
            docids, scores = docids[keep], scores[keep]
        got = self.index.read_docs(docids, ["_id"])
        ids = np.array(got["_id"].to_pylist(), dtype=str)
        page = np.lexsort((ids, -scores))[req.from_ : k]
        schema = self.index.docs_schema
        cols = {
            "docid": pa.array(docids[page], pa.int64()),
            "_id": pa.array(ids[page], pa.string()),
            "score": pa.array(scores[page], pa.float64()),
        }
        fields = [schema["docid"], schema["_id"], T.StructField("score", T.DoubleType())]
        if req.fields:
            stored = self.index.read_docs(np.sort(docids[page]), list(req.fields))
            at = np.searchsorted(stored["docid"].to_numpy(), docids[page])
            for f in req.fields:
                cols[f] = stored[f].take(pa.array(at, pa.int64()))
                fields.append(schema[f])
        hits = self.index.spark.createDataFrame(
            pa.table(cols), T.StructType(fields)
        )
        return SearchResult(hits=hits, total=total)

    def _finish_faceted(self, hits, page, req):
        """Run the facet jobs (if any) and release the persisted match
        set. The faceted path persist()s `hits` so the page job and each
        facet job reuse one materialization; both outputs are small and
        bounded (top-k page, size-limited facets), so they are collected
        eagerly here and `hits` unpersisted in a finally — otherwise
        every faceted search leaks a cached dataset for the lifetime of
        the SparkSession."""
        if not req.facets:
            return page, {}
        facets = {}
        try:
            for name, freq in req.facets.items():
                facets[name] = _eager(self._facet(hits, freq))
            page = _eager(page)
        finally:
            hits.unpersist()
        return page, facets

    def _facet(self, hits: DataFrame, freq: FacetRequest) -> DataFrame:
        """Terms / numeric-range / date-range facets
        (ref: facet/facet_builder_{terms,numeric,datetime}.go).

        A doc increments EVERY matching range, not just the first — the
        reference's UpdateVisitor loops all ranges
        (facet_builder_numeric.go:41-49); overlapping ranges therefore
        multi-count. Implemented as an array of matching range names +
        explode (one shuffle, no per-range job). Array-typed terms-facet
        fields count each element (docvalues are per-term)."""
        if freq.numeric_ranges or freq.date_ranges:
            if freq.numeric_ranges:
                col = F.col(freq.field).cast("double")
                conds = []
                for r in freq.numeric_ranges:
                    cond = F.lit(True)
                    if r.get("min") is not None:
                        cond = cond & (col >= r["min"])
                    if r.get("max") is not None:
                        cond = cond & (col < r["max"])
                    conds.append((cond, r["name"]))
            else:
                col = F.col(freq.field).cast("timestamp")
                conds = []
                for r in freq.date_ranges:
                    cond = F.lit(True)
                    if r.get("start") is not None:
                        cond = cond & (
                            col >= F.lit(r["start"]).cast("timestamp")
                        )
                    if r.get("end") is not None:
                        cond = cond & (col < F.lit(r["end"]).cast("timestamp"))
                    conds.append((cond, r["name"]))
            matched = F.array(
                *[F.when(c, F.lit(name)) for c, name in conds]
            )
            return (
                hits.select(
                    F.explode(
                        F.filter(matched, lambda x: x.isNotNull())
                    ).alias("range")
                )
                .groupBy("range")
                .agg(F.count("*").alias("count"))
                .orderBy(F.desc("count"), "range")
            )
        term_col = F.col(freq.field)
        try:
            is_array = isinstance(
                hits.schema[freq.field].dataType, T.ArrayType
            )
        except Exception:
            is_array = False
        if is_array:
            src = hits.select(F.explode(term_col).alias("term"))
        else:
            src = hits.select(term_col.alias("term"))
        return (
            src.groupBy("term")
            .agg(F.count("*").alias("count"))
            .orderBy(F.desc("count"), "term")
            .limit(freq.size)
        )


def _eager(df: DataFrame) -> DataFrame:
    """Materialize a small bounded DataFrame on the driver and rewrap
    it, so upstream cached inputs can be unpersisted without the result
    silently recomputing later."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


def _parse_sort_specs(sort: Sequence) -> List[dict]:
    """Normalize sort entries — strings ("-name", "_score") or dicts
    ({"by": "field", "field": ..., "desc": ..., "missing": "first",
    "mode": "min"}) — into one spec shape (ref: search/sort.go:
    ParseSearchSortObj/ParseSearchSortString, sort.go:129-131,310-343)."""
    specs = []
    for s in sort:
        if isinstance(s, str):
            desc = s.startswith("-")
            name = s.lstrip("+-")
            by = (
                "score"
                if name == "_score"
                else "id"
                if name == "_id"
                else "field"
            )
            specs.append(
                {
                    "by": by,
                    "field": name,
                    "desc": desc,
                    "missing": "last",
                    "mode": "min",
                }
            )
        else:
            d = dict(s)
            spec = {
                "by": d.get("by", "field"),
                "field": d.get("field"),
                "desc": bool(d.get("desc", False)),
                "missing": d.get("missing", "last"),
                "mode": d.get("mode", "min"),
            }
            if d.get("by") == "geo_distance":  # ref: search/sort.go:636
                spec["location"] = d.get("location")
                spec["unit"] = d.get("unit", "m")
            specs.append(spec)
    return specs


def _order_col(col: Column, desc: bool, missing: str) -> Column:
    """Direction + missing-value placement (ref: sort.go missing
    first/last semantics — default last in either direction)."""
    if desc:
        return (
            col.desc_nulls_first() if missing == "first" else col.desc_nulls_last()
        )
    return col.asc_nulls_first() if missing == "first" else col.asc_nulls_last()


def _keyset_pred(specs, key_cols, values, flip: bool = False) -> Column:
    """Lexicographic strictly-after predicate over the sort tuple; with
    flip=True, strictly-before (reverse execution for SearchBefore,
    ref: index_impl.go:448-461). NULL sort keys participate per their
    missing-first/last placement: a missing-last row comes after every
    non-null anchor, so `after` must keep it."""
    pred = None
    eq_prefix = None
    for spec, col, v in zip(specs, key_cols, values):
        if spec["by"] == "score" and isinstance(v, str):
            v = float(v)  # the wire format carries sort keys as strings
        lit = F.lit(v)
        desc = spec["desc"] != flip
        nxt = (col < lit) if desc else (col > lit)
        # nulls land after the anchor when they sort to the end of the
        # effective iteration order (flip reverses that order)
        nulls_after = (spec["missing"] == "last") != flip
        if nulls_after:
            nxt = nxt | col.isNull()
        clause = nxt if eq_prefix is None else eq_prefix & nxt
        pred = clause if pred is None else pred | clause
        eq_here = col == lit
        eq_prefix = eq_here if eq_prefix is None else eq_prefix & eq_here
    return pred


def _fuzzy_predicate(term: str, fuzziness: int, prefix_len: int) -> Column:
    """Dictionary terms within `fuzziness` edits of `term` that share its
    first `prefix_len` chars (ref: searcher/search_fuzzy.go:25-140);
    F.levenshtein is the built-in DP."""
    _check_fuzziness(fuzziness)
    pred = F.levenshtein(F.col("term"), F.lit(term)) <= fuzziness
    if prefix_len > 0:
        pred = pred & F.col("term").startswith(term[:prefix_len])
    return pred


def _wildcard_to_regex(w: str) -> str:
    """ref: query/wildcard.go:24-44."""
    out = []
    for ch in w:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in ".+()[]{}^$|\\":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"
