"""Seeded inputs for the three workloads.

Page texts come from the engine's own fixture (``sources.pages.make_page``,
the row function behind ``generate_pages``); everything drawn on top
of them (which pages are appended, queries, qrels, request bodies)
depends only on ``--seed``. The corpus model used to pick query terms
(``Corpus``) tokenizes the texts itself, apart from the engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

# texts of the pages fixture are lower-case words separated by spaces and
# one newline; on that alphabet the engine's standard analyzer and a plain
# whitespace split agree, which ``Corpus`` checks for every text
_FIXTURE_TEXT = re.compile(r"[a-z0-9 \n]*")

# page ids of appended batches are drawn from this range, past any base
# corpus the benchmark builds
APPEND_ID_LO = 1_000_000
APPEND_ID_SPAN = 10_000_000


def page_lang(page_id: int) -> str:
    """The fixture's language rule, restated: 45 of every 50 pages are
    'en', then 4 'de', then 1 'fr'."""
    m = page_id % 50
    return "en" if m < 45 else ("de" if m < 49 else "fr")


def page_id_of(url: str) -> int:
    return int(url.rsplit("doc", 1)[1])


def pages(page_ids):
    """Pages fixture rows for explicit page ids, as pandas: ``url``,
    ``text`` and ``lang`` (the columns the workloads read)."""
    import pandas as pd

    from sgpt_spark.sources.pages import make_page

    rows = [make_page(int(i)) for i in page_ids]
    return pd.DataFrame({
        "url": [r[0] for r in rows],
        "text": [r[3] for r in rows],
        "lang": [r[4] for r in rows],
    })


def append_page_ids(seed: int, n_batches: int, batch_docs: int) -> list[np.ndarray]:
    """Distinct page ids beyond every base corpus, one sorted array per
    batch. ``generate_pages`` always starts at id 0, so appended pages
    are new urls by construction."""
    rng = np.random.default_rng([seed, 1])
    ids = APPEND_ID_LO + rng.choice(APPEND_ID_SPAN, n_batches * batch_docs, replace=False)
    return [np.sort(ids[i * batch_docs:(i + 1) * batch_docs]) for i in range(n_batches)]


@dataclass
class Corpus:
    """Token lists of a set of pages, tokenized by the benchmark."""

    page_ids: np.ndarray     # int64, one per page
    texts: list[str]
    tokens: list[list[str]]  # per page; [] for the empty-text pages

    @classmethod
    def of_texts(cls, page_ids, texts) -> "Corpus":
        toks = []
        for t in texts:
            if not _FIXTURE_TEXT.fullmatch(t):
                raise ValueError("page text outside the fixture alphabet")
            toks.append(t.split())
        return cls(np.asarray(page_ids, dtype=np.int64), list(texts), toks)

    def body_tokens(self, i: int) -> list[str]:
        """Tokens after the title line (the title holds the unique
        ``docNNNNNNNN`` token and two body terms)."""
        text = self.texts[i]
        return text.split("\n", 1)[1].split() if "\n" in text else []


# --- batch_top1000 queries --------------------------------------------------

BANDS = ("head", "middle", "tail")


def band_of(df: int, n_docs: int) -> str:
    """Frequency band of a term by its document frequency: head terms
    occur in at least a tenth of the pages, tail terms in under 1%."""
    if df * 10 >= n_docs:
        return "head"
    if df * 100 < n_docs:
        return "tail"
    return "middle"


def batch_queries(seed: int, corpus: Corpus, df: dict, n_queries: int) -> list[tuple]:
    """-> [(qid, text, source_row)]: each query is 1-6 distinct body
    terms of one page, each position drawn from a seeded band (head,
    middle or tail by document frequency), so queries mix common and
    rare terms the way a real query log does. The source page is the
    query's only relevant document."""
    rng = np.random.default_rng([seed, 2])
    n_docs = sum(1 for t in corpus.tokens if t)
    out = []
    while len(out) < n_queries:
        row = int(rng.integers(len(corpus.texts)))
        body = sorted(set(corpus.body_tokens(row)))
        if not body:
            continue  # empty-text page
        by_band = {b: [t for t in body if band_of(df[t], n_docs) == b] for b in BANDS}
        length = int(rng.integers(1, 7))
        terms: list[str] = []
        for _ in range(length):
            pool = [t for t in by_band[BANDS[int(rng.integers(3))]] if t not in terms]
            if not pool:
                pool = [t for t in body if t not in terms]
            if not pool:
                break
            terms.append(pool[int(rng.integers(len(pool)))])
        out.append((f"q{len(out):05d}", " ".join(terms), row))
    return out


# --- search_requests bodies -------------------------------------------------

REQUEST_KINDS = ("match", "bool", "phrase", "terms_agg")


def _terms_of(rng, corpus: Corpus, n: int) -> str:
    while True:
        body = sorted(set(corpus.body_tokens(int(rng.integers(len(corpus.texts))))))
        if len(body) >= n:
            return " ".join(body[int(i)] for i in rng.choice(len(body), n, replace=False))


def probe_queries(seed: int, corpus: Corpus, n: int) -> list[tuple[int, str]]:
    """-> [(qid, text)]: ``n`` match queries of 2-3 body terms each."""
    rng = np.random.default_rng([seed, 4])
    return [(i, _terms_of(rng, corpus, int(rng.integers(2, 4)))) for i in range(n)]


def request_rounds(seed: int, corpus: Corpus, n_rounds: int) -> list[list[tuple]]:
    """-> rounds of (kind, body); every round holds one body of each of
    ``REQUEST_KINDS`` in a seeded order, all at size 10:

    - match: 2-3 body terms of a random page;
    - bool: a must-match of 1-2 terms plus one structured filter
      (a ``term`` on lang or a ``range`` on n_chars);
    - phrase: two adjacent body tokens of a random page;
    - terms_agg: a match of 1-2 terms with a ``terms`` agg on lang.
    """
    rng = np.random.default_rng([seed, 3])
    rounds = []
    for _ in range(n_rounds):
        bodies = []
        for kind in REQUEST_KINDS:
            if kind == "match":
                q = {"match": {"text": _terms_of(rng, corpus, int(rng.integers(2, 4)))}}
                body = {"query": q, "size": 10}
            elif kind == "bool":
                must = [{"match": {"text": _terms_of(rng, corpus, int(rng.integers(1, 3)))}}]
                if rng.random() < 0.5:
                    flt = {"term": {"lang": ["en", "de", "fr"][int(rng.integers(3))]}}
                else:
                    lo = int(rng.integers(500, 2500))
                    flt = {"range": {"n_chars": {"gte": lo, "lt": lo + 800}}}
                body = {"query": {"bool": {"must": must, "filter": [flt]}}, "size": 10}
            elif kind == "phrase":
                while True:
                    toks = corpus.body_tokens(int(rng.integers(len(corpus.texts))))
                    if len(toks) >= 2:
                        break
                at = int(rng.integers(len(toks) - 1))
                body = {"query": {"match_phrase": {"text": " ".join(toks[at:at + 2])}},
                        "size": 10}
            else:
                q = {"match": {"text": _terms_of(rng, corpus, int(rng.integers(1, 3)))}}
                body = {"query": q, "size": 10,
                        "aggs": {"langs": {"terms": {"field": "lang"}}}}
            bodies.append((kind, body))
        order = rng.permutation(len(bodies))
        rounds.append([bodies[int(i)] for i in order])
    return rounds
