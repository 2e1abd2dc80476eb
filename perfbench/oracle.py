"""Brute-force pandas oracle for the query_mix answers.

Scores are written out here from the formulas in PAPER.md, independently
of bleve_spark.scoring; only the token stream comes from the program's
`code` analyzer.

TF-IDF (bleve / Lucene classic):
    idf        = 1 + ln(N / (df + 1))
    fieldNorm  = float32(1 / sqrt(fieldLength))
    term score = sqrt(tf) * fieldNorm * idf
    a multi-term match is a disjunction: each term score is multiplied by
    queryWeight = idf * queryNorm, queryNorm = 1 / sqrt(sum idf^2), and
    the sum by coord = matched terms / query terms.
BM25 (k1 = 1.2, b = 0.75):
    idf   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score = sum idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len / avgLen))
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from typing import Dict, List, Optional, Tuple

import numpy as np

K1, B = 1.2, 0.75
REL_TOL = 1e-5


class Oracle:
    def __init__(self, pdf, field: str = "content"):
        from bleve_spark.analysis import get_analyzer

        an = get_analyzer("code")
        self.ids: List[str] = list(pdf["_id"])
        self.n = len(self.ids)
        self.row_of = {d: i for i, d in enumerate(self.ids)}
        self.tokens: List[List[Tuple[str, int]]] = []
        self.postings: Dict[str, Dict[int, int]] = defaultdict(dict)
        self.lens = np.zeros(self.n)
        cf: Counter = Counter()
        for i, text in enumerate(pdf[field]):
            toks = [(t[0], t[1]) for t in an.analyze(text)]
            self.tokens.append(toks)
            self.lens[i] = len(toks)
            for term, c in Counter(t for t, _ in toks).items():
                self.postings[term][i] = c
                cf[term] += c
        self.avg_len = float(self.lens.mean())
        self.content_bytes = int(sum(len(t.encode("utf-8")) for t in pdf[field]))
        # query vocabulary: identifier words, most frequent first
        self._vocab = [
            t for t, _ in sorted(cf.items(), key=lambda kv: (-kv[1], kv[0]))
            if t.isalpha() and not t.startswith("uniq")
        ]
        self._uniq = {}
        for i, toks in enumerate(self.tokens):
            u = [t for t, _ in toks if t.startswith("uniq")]
            self._uniq[i] = u[-1]

    # -- inputs for the query stream ----------------------------------------

    def vocabulary(self) -> List[str]:
        return self._vocab

    def uniq(self, i: int) -> str:
        return self._uniq[i]

    def adjacent_pair(self, i: int, rng) -> Optional[Tuple[str, str]]:
        toks = self.tokens[i]
        pairs = [
            (a, b) for (a, pa), (b, pb) in zip(toks, toks[1:])
            if pb == pa + 1 and a.isalpha() and b.isalpha() and a != b
            and not a.startswith("uniq") and not b.startswith("uniq")
        ]
        if not pairs:
            return None
        return pairs[int(rng.integers(0, len(pairs)))]

    # -- scoring -------------------------------------------------------------

    def _tfidf(self, terms: List[str]) -> Dict[int, float]:
        idf = {t: 1.0 + math.log(self.n / (len(self.postings[t]) + 1))
               for t in terms if self.postings.get(t)}
        if len(terms) == 1:
            (t,) = terms
            return {
                i: math.sqrt(tf) * float(np.float32(1.0 / math.sqrt(max(self.lens[i], 1)))) * idf[t]
                for i, tf in self.postings.get(t, {}).items()
            }
        qn = 1.0 / math.sqrt(sum(v * v for v in idf.values()))
        acc: Dict[int, float] = defaultdict(float)
        nmatch: Counter = Counter()
        for t, it in idf.items():
            for i, tf in self.postings[t].items():
                norm = float(np.float32(1.0 / math.sqrt(max(self.lens[i], 1))))
                acc[i] += math.sqrt(tf) * norm * it * it * qn
                nmatch[i] += 1
        return {i: s * nmatch[i] / len(terms) for i, s in acc.items()}

    def _bm25(self, terms: List[str]) -> Dict[int, float]:
        acc: Dict[int, float] = defaultdict(float)
        for t in terms:
            post = self.postings.get(t, {})
            df = len(post)
            if not df:
                continue
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for i, tf in post.items():
                denom = tf + K1 * (1.0 - B + B * self.lens[i] / self.avg_len)
                acc[i] += idf * tf * (K1 + 1.0) / denom
        return dict(acc)

    def scores(self, terms: List[str], similarity: str) -> Dict[int, float]:
        return self._bm25(terms) if similarity == "bm25" else self._tfidf(terms)

    # -- checks --------------------------------------------------------------

    def check_ranked(self, hits, terms, similarity, size=10) -> Optional[str]:
        """None if `hits` [(_id, score)] is the oracle's top-`size`; ids
        may differ only where scores tie."""
        scores = self.scores(terms, similarity)
        want = sorted(scores.items(), key=lambda kv: (-kv[1], self.ids[kv[0]]))[:size]
        if len(hits) != len(want):
            return f"{len(hits)} hits, oracle has {len(want)}"
        for rank, ((got_id, got), (row, exp)) in enumerate(zip(hits, want)):
            if not _close(got, exp):
                return f"rank {rank}: score {got!r} != oracle {exp!r}"
            if got_id != self.ids[row]:
                r = self.row_of.get(got_id)
                if r is None or not _close(scores.get(r, -1.0), exp):
                    return f"rank {rank}: {got_id} where oracle has {self.ids[row]}"
        return None

    def check_invariants(self, q: dict, hits) -> Optional[str]:
        """Invariants for classes without an exact ranking check."""
        err = top10_err(hits)
        if err:
            return err
        body = q["query"]
        for hid, _ in hits:
            row = self.row_of.get(hid)
            if row is None:
                return f"unknown hit {hid}"
            terms = {t for t, _ in self.tokens[row]}
            if "match_phrase" in body:
                a, b = body["match_phrase"].split()
                pos = defaultdict(set)
                for t, p in self.tokens[row]:
                    pos[t].add(p)
                if not any(p + 1 in pos[b] for p in pos[a]):
                    return f"{hid} lacks phrase {a!r} {b!r}"
            elif "must" in body:
                need = [c["term"] for c in body["must"]["conjuncts"]]
                (ban,) = [c["term"] for c in body["must_not"]["disjuncts"]]
                if not all(t in terms for t in need) or ban in terms:
                    return f"{hid} breaks bool {need} -{ban}"
            elif "prefix" in body:
                if not any(t.startswith(body["prefix"]) for t in terms):
                    return f"{hid} has no term with prefix {body['prefix']!r}"
        if "match_phrase" in body and not hits:
            return "phrase lifted from a doc found nothing"
        return None


def top10_err(hits) -> Optional[str]:
    """At most 10 hits, no id twice, sorted by score."""
    if len(hits) > 10:
        return f"{len(hits)} hits > size 10"
    if len({h for h, _ in hits}) != len(hits):
        return "duplicate hits"
    scores = [s for _, s in hits]
    if any(a < b for a, b in zip(scores, scores[1:])):
        return "hits not sorted by score"
    return None


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-12)
