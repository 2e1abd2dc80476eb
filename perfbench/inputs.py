"""Seeded inputs: the corpus, the query stream and the ingest operations.

Everything derives from the workload seed. bleve_spark receives only the
generated rows (as parquet files) and bleve JSON queries.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

FIELD = "content"

# query classes and their counts in one deck of the timed stream
DECK = {
    "term_rare": 2,
    "term_hot": 2,
    "match": 2,
    "match_bm25": 1,
    "phrase": 1,
    "bool": 1,
    "prefix": 1,
}
CLASSES = list(DECK)


def doc_id(i: int) -> str:
    return f"doc-{i}"


def corpus_rows(seed: int, start: int, end: int) -> pd.DataFrame:
    """Docs [start, end) of the synthetic code corpus (FIXTURES.md F1)
    with an explicit `_id` column."""
    from bleve_spark.corpus import generate_rows

    pdf = generate_rows(start, end, seed=seed).drop(columns=["content_sha256"])
    pdf.insert(0, "_id", [doc_id(i) for i in range(start, end)])
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    """Write `pdf` once; a file already present is reused."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        pdf.to_parquet(tmp, index=False)
        os.replace(tmp, path)
    return path


def corpus_parquet(cache_dir: str, seed: int, start: int, end: int):
    """(rows, parquet path) for docs [start, end), cached by (seed, range)."""
    pdf = corpus_rows(seed, start, end)
    path = os.path.join(cache_dir, f"corpus-s{seed}-{start}-{end}.parquet")
    return pdf, write_parquet(pdf, path)


def _zipf_weights(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** 1.1
    return w / w.sum()


class QueryStream:
    """Seeded query decks over one half of an oracle's vocabulary and
    docs. Half 0 feeds the timed stream and half 1 the warm-up, so
    warm-up queries never touch a term or doc of the timed stream. Each
    deck holds the classes in DECK's proportions in a seeded order; terms
    are Zipf-drawn by collection frequency rank, so hot terms repeat."""

    def __init__(self, oracle, seed: int, half: int):
        self.oracle = oracle
        self.rng = np.random.default_rng([seed, 7, half])
        self.vocab = oracle.vocabulary()[half::2]  # most frequent first
        self.known = set(self.vocab)
        self.docs = range(half, oracle.n, 2)
        self.weights = _zipf_weights(len(self.vocab))

    def _terms(self, k: int, lo: int = 0):
        p = self.weights[lo:] / self.weights[lo:].sum()
        picked = self.rng.choice(np.arange(lo, len(self.vocab)), size=k, replace=False, p=p)
        return [self.vocab[r] for r in picked]

    def _doc(self) -> int:
        return self.docs[int(self.rng.integers(0, len(self.docs)))]

    def _phrase(self):
        while True:
            pair = self.oracle.adjacent_pair(self._doc(), self.rng)
            if pair and set(pair) <= self.known:
                return pair

    def make(self, cls: str) -> dict:
        """One query: {"cls", "query" (bleve JSON), "similarity"}."""
        q = {"cls": cls, "similarity": "tfidf"}
        term = lambda t: {"term": t, "field": FIELD}  # noqa: E731
        if cls == "term_rare":
            q["query"] = term(self.oracle.uniq(self._doc()))
        elif cls == "term_hot":
            q["query"] = term(self._terms(1)[0])
        elif cls in ("match", "match_bm25"):
            q["query"] = {"match": " ".join(self._terms(3)), "field": FIELD}
            q["similarity"] = "bm25" if cls == "match_bm25" else "tfidf"
        elif cls == "phrase":
            q["query"] = {"match_phrase": " ".join(self._phrase()), "field": FIELD}
        elif cls == "bool":
            a, b = self._terms(2)
            # must_not from the less frequent half keeps results non-empty
            (c,) = self._terms(1, lo=len(self.vocab) // 2)
            q["query"] = {
                "must": {"conjuncts": [term(a), term(b)]},
                "must_not": {"disjuncts": [term(c)]},
            }
        elif cls == "prefix":
            root = next(t for t in self._terms(len(self.vocab)) if len(t) >= 3)
            q["query"] = {"prefix": root[:3], "field": FIELD}
        else:
            raise ValueError(cls)
        return q

    def deck(self, counts=DECK) -> list:
        """Queries of each class in `counts`, in a seeded order."""
        classes = [c for c, n in counts.items() for _ in range(n)]
        return [self.make(classes[i]) for i in self.rng.permutation(len(classes))]


class IngestPlan:
    """Seeded ingest operations: per step a batch of new docs plus upserts
    of live ids, and on every other step a delete of live ids. Tracks the
    live set, so each step can be checked for read-your-writes."""

    def __init__(self, seed: int, base: int, batch: int, upsert_share: float,
                 deletes: int):
        self.seed = seed
        self.rng = np.random.default_rng([seed, 11])
        self.batch = batch
        self.n_upsert = int(batch * upsert_share)
        self.deletes = deletes
        self.next = base  # next generation index
        # live _id -> generation index of its current content
        self.live = {doc_id(i): i for i in range(base)}

    def step(self, k: int):
        """(rows, new id, upserted (id, old gen), deleted [(id, gen)]) for
        step k. The last row is always a new id."""
        start = self.next
        self.next += self.batch
        pdf = corpus_rows(self.seed, start, self.next)
        ids = sorted(self.live)
        picks = self.rng.choice(len(ids), size=self.n_upsert + self.deletes, replace=False)
        upserts = [ids[i] for i in picks[: self.n_upsert]]
        old = {u: self.live[u] for u in upserts}
        pdf.loc[pdf.index[: self.n_upsert], "_id"] = upserts
        for _id, gen in zip(pdf["_id"], range(start, self.next)):
            self.live[_id] = gen
        deleted = [(ids[i], self.live.pop(ids[i])) for i in picks[self.n_upsert:]] if k % 2 == 0 else []
        new_id = pdf["_id"].iloc[-1]
        upserted = (upserts[0], old[upserts[0]]) if upserts else None
        return pdf, new_id, upserted, deleted
