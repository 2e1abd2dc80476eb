"""The phrase kernel (search._phrase_hits) against a per-doc reference.

The reference walks one doc at a time: each slot's positions as a set,
`_phrase_path_exists` for the chain, then a plain Python fold of the
slot scores in slot order (a slot with alternatives sums them and, in
tfidf mode, takes the coord matched/len(alts)). The kernel must return
the same docs and bit-identical scores. Driver only: no Spark job.
"""

import numpy as np
import pandas as pd
import pytest

from bleve_spark import scoring
from bleve_spark.search import _phrase_hits, _phrase_path_exists

TERMS = ["cache", "get", "set", "index"]
IDF = {"cache": 1.7, "get": 0.9, "set": 1.3, "index": 2.1}
BOOST, QN, AVG_LEN = 1.5, 0.37, 40.0


def _flat(out):
    """(rows, flat positions) of (term, docid, tf, length, positions)
    tuples, in the layout the decoder gives the kernel: row i owns the
    next tf[i] values of the flat positions."""
    rows = pd.DataFrame(
        [o[:4] for o in out], columns=["term", "docid", "tf", "length"]
    )
    return rows, np.concatenate([o[4] for o in out]).astype(np.int64)


def _rows(seed, ndocs=300):
    """Seeded postings: each doc holds a random subset of TERMS at
    positions drawn from a small range, so phrases match often. Docids
    start above 2^31 and one doc's positions sit above 2^32 (an array
    element far down its field). The kernel must not depend on the row
    order, so the rows come shuffled."""
    rng = np.random.default_rng(seed)
    out = []
    for k in range(ndocs):
        docid = 2**31 + 7 * k
        base = 2**32 + 11 if k == 5 else 0
        length = int(rng.integers(5, 60))
        for t in TERMS:
            if rng.random() < 0.3:
                continue
            tf = int(rng.integers(1, 6))
            pos = np.sort(rng.choice(np.arange(1, 16), tf, replace=False))
            out.append((t, docid, tf, length, base + pos.astype(np.int64)))
    rows = pd.DataFrame(
        out, columns=["term", "docid", "tf", "length", "positions"]
    )
    rows = rows.sample(frac=1.0, random_state=seed)
    return _flat(list(rows.itertuples(index=False, name=None)))


def _reference(rows, positions, slots, deltas, slop, similarity):
    scores = scoring.term_scores(
        similarity, rows["tf"].to_numpy(), rows["length"].to_numpy(),
        rows["term"].map(IDF).to_numpy(np.float64), BOOST, QN, AVG_LEN,
    )
    ends = np.cumsum(rows["tf"].to_numpy())
    pos_of = [positions[e - n:e] for n, e in zip(rows["tf"], ends)]
    by_doc = {}
    for i, (t, d) in enumerate(zip(rows["term"], rows["docid"])):
        by_doc.setdefault(int(d), {})[t] = i
    docids, out = [], []
    for d in sorted(by_doc):
        at = by_doc[d]
        pos_by_slot = {
            sl: {
                int(p)
                for t in alts
                if t in at
                for p in pos_of[at[t]]
            }
            for sl, (alts, _p) in enumerate(slots)
        }
        if not all(pos_by_slot.values()) or not _phrase_path_exists(
            pos_by_slot, deltas, len(slots), slop
        ):
            continue
        score = 0.0
        for alts, _p in slots:
            hit = [scores[at[t]] for t in alts if t in at]
            slot_score = sum(hit)
            if similarity == scoring.TFIDF:
                slot_score = slot_score * len(hit) / len(alts)
            score = score + slot_score
        docids.append(d)
        out.append(score)
    return np.array(docids, dtype=np.int64), np.array(out, dtype=np.float64)


PHRASES = {
    "two_terms": [(("get",), 1), (("cache",), 2)],
    "three_terms": [(("set",), 1), (("get",), 2), (("cache",), 3)],
    # a term that serves two slots
    "cache_get_cache": [(("cache",), 1), (("get",), 2), (("cache",), 3)],
    # a stop word removed between the terms: delta 2
    "stop_gap": [(("get",), 1), (("cache",), 3)],
    "multi_alternative": [(("get", "set"), 1), (("cache", "index"), 2)],
    # an alternative no posting holds still counts in the coord
    "absent_alternative": [(("get", "missing"), 1), (("cache",), 2)],
}


@pytest.mark.parametrize("similarity", [scoring.TFIDF, scoring.BM25])
@pytest.mark.parametrize("slop", [0, 1, 2])
@pytest.mark.parametrize("name", sorted(PHRASES))
def test_kernel_matches_per_doc_reference(name, slop, similarity):
    slots = PHRASES[name]
    deltas = [slots[i][1] - slots[i - 1][1] for i in range(1, len(slots))]
    for seed in (1, 2):
        rows, positions = _rows(seed)
        want_d, want_s = _reference(
            rows, positions, slots, deltas, slop, similarity
        )
        got_d, got_s = _phrase_hits(
            rows, positions, slots, deltas, slop, IDF, BOOST, QN, AVG_LEN,
            similarity,
        )
        assert len(want_d), "the seeded docs must hold some phrase"
        assert got_d.dtype == np.int64 and got_s.dtype == np.float64
        assert got_d.tolist() == want_d.tolist()
        assert got_s.tolist() == want_s.tolist()


def test_kernel_exact_match_far_apart_positions():
    """Positions far apart (an array element far down a field, up to
    2^61) still match exactly: candidates times the position span
    passes 2^63 here, so the kernel packs position ranks instead."""
    starts = [2**61 + 5, 2**32 + 3, 7, 1, 40]
    out = []
    for k, p in enumerate(starts):
        out += [("get", 2**40 + k, 1, 9, np.array([p])),
                ("cache", 2**40 + k, 2, 9, np.array([p + 1, p + 9]))]
    # both terms, but never adjacent
    out += [("get", 2**40 + 9, 1, 9, np.array([3])),
             ("cache", 2**40 + 9, 1, 9, np.array([6]))]
    rows, positions = _flat(out)
    slots = [(("get",), 1), (("cache",), 2)]
    for slop in (0, 1):
        d, _s = _phrase_hits(
            rows, positions, slots, [1], slop, IDF, BOOST, QN, AVG_LEN,
            scoring.TFIDF,
        )
        assert d.tolist() == [2**40 + k for k in range(len(starts))]


def test_kernel_no_candidate_doc():
    rows, positions = _rows(4, ndocs=20)
    d, s = _phrase_hits(
        rows, positions, [(("missing",), 1), (("cache",), 2)], [1], 0, IDF,
        BOOST, QN, AVG_LEN, scoring.TFIDF,
    )
    assert d.tolist() == [] and s.tolist() == []
