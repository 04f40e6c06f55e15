"""Brute-force BM25 over a ``Corpus``, computed apart from the engine:
the benchmark's own inverted arrays, numpy scoring, and the engine's
documented ranking contract (scores rounded to 6 decimals, then score
descending, doc_id ascending). Used only in the checks that run after
the timed window.
"""

from __future__ import annotations

import math

import numpy as np

K1, B = 1.2, 0.75


class BM25Oracle:
    def __init__(self, doc_ids, tokens):
        """``doc_ids[i]`` is the engine doc id of the page whose token
        list is ``tokens[i]``; empty pages are not documents."""
        keep = [i for i, t in enumerate(tokens) if t]
        self.doc_ids = np.asarray([doc_ids[i] for i in keep], dtype=np.int64)
        self.n_docs = len(keep)
        lens = np.asarray([len(tokens[i]) for i in keep], dtype=np.int64)
        self.doc_len = lens.astype(np.float64)
        self.total_len = int(lens.sum())
        self.avgdl = self.total_len / self.n_docs
        vocab: dict[str, int] = {}
        flat = np.fromiter(
            (vocab.setdefault(t, len(vocab)) for i in keep for t in tokens[i]),
            dtype=np.int64, count=self.total_len,
        )
        v = len(vocab)
        key, tf = np.unique(np.repeat(np.arange(self.n_docs), lens) * v + flat,
                            return_counts=True)
        term = key % v
        order = np.argsort(term, kind="stable")
        self._rows = (key // v)[order]
        self._tf = tf[order].astype(np.float64)
        self._starts = np.searchsorted(term[order], np.arange(v + 1))
        self._vocab = vocab
        self.df = {t: int(self._starts[i + 1] - self._starts[i]) for t, i in vocab.items()}

    def _postings(self, t: str):
        i = self._vocab.get(t)
        if i is None:
            return None
        lo, hi = self._starts[i], self._starts[i + 1]
        return self._rows[lo:hi], self._tf[lo:hi]

    def sum_df(self) -> int:
        return sum(self.df.values())

    def scores(self, terms: list[str]) -> np.ndarray:
        """Dense BM25 scores of every document for the query terms
        (repeated terms count once per occurrence)."""
        acc = np.zeros(self.n_docs)
        norm = K1 * (1.0 - B + B * self.doc_len / self.avgdl)
        for t in terms:
            p = self._postings(t)
            if p is None:
                continue
            rows, tf = p
            d = self.df[t]
            idf = math.log(1.0 + (self.n_docs - d + 0.5) / (d + 0.5))
            acc[rows] += idf * tf / (tf + norm[rows])
        return acc

    def matching(self, terms: list[str]) -> np.ndarray:
        """Doc ids holding at least one of the terms."""
        hit = np.zeros(self.n_docs, dtype=bool)
        for t in terms:
            p = self._postings(t)
            if p is not None:
                hit[p[0]] = True
        return self.doc_ids[hit]

    def topk(self, terms: list[str], k: int, keep=None) -> list[tuple[int, float]]:
        """Top ``k`` (doc_id, score) by the ranking contract. ``keep``, if
        given, is a predicate on doc ids: only the documents it accepts are
        ranked, with scores from the whole corpus (a bool filter)."""
        s = np.round(self.scores(terms), 6)
        ok = s > 0
        if keep is not None:
            ok &= np.fromiter((keep(int(d)) for d in self.doc_ids), bool, self.n_docs)
        cand = np.flatnonzero(ok)
        order = cand[np.lexsort((self.doc_ids[cand], -s[cand]))][:k]
        return [(int(self.doc_ids[i]), float(s[i])) for i in order]


def hits_agree(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same ids in the same order, scores within 1e-6."""
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= 1e-6 for g, w in zip(got, want)
    )


def contains_phrase(tokens: list[str], phrase: list[str]) -> bool:
    n = len(phrase)
    return any(tokens[i:i + n] == phrase for i in range(len(tokens) - n + 1))


def ranking_ok(rows: list[tuple[int, float, int]]) -> bool:
    """One query's (doc_id, score, rank) rows, in rank order: ranks run
    1..n, scores do not increase, equal scores go by doc_id ascending."""
    for i, (doc, score, rank) in enumerate(rows):
        if rank != i + 1:
            return False
        if i:
            pdoc, pscore, _ = rows[i - 1]
            if score > pscore or (score == pscore and doc <= pdoc):
                return False
    return True
