"""Index-free BM25 oracle over the generator's own token ids.

Scores with the engine's documented BM25 contract (k1 = 1.2, b = 0.75,
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), scores rounded to 5 decimals,
ties broken by ascending doc id), summing the query terms in sorted term
order.  It never reads the engine's index, so a wrong posting, norm or
statistic in the index shows up as a mismatch.
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75
DECIMALS = 5
SCORE_TOL = 1.1 * 10 ** (-DECIMALS)


class Bm25Oracle:
    def __init__(self, doc_keys, ids, offs, vocab, langs=None):
        """doc_keys: the id each document is reported under; ids/offs: CSR
        token ids per document; vocab: term strings by id; langs: per-doc
        language (for `lang` filters)."""
        self.keys = np.asarray(doc_keys, dtype=np.int64)
        ids = np.asarray(ids, dtype=np.int64)
        offs = np.asarray(offs, dtype=np.int64)
        lens = np.diff(offs)
        self.n = self.keys.size
        self.dl = lens.astype(np.float64)
        self.avgdl = float(offs[-1]) / self.n if self.n else 1.0
        self.term_id = {t: i for i, t in enumerate(vocab)}
        self.langs = None if langs is None else np.asarray(langs, dtype=object)
        doc_of = np.repeat(np.arange(self.n, dtype=np.int64), lens)
        # one key per (term, doc): sorted, so each term's docs are a run
        pair = np.unique(ids * self.n + doc_of, return_counts=True)
        self.pair_term = pair[0] // self.n
        self.pair_doc = pair[0] % self.n
        self.pair_tf = pair[1].astype(np.float64)

    def postings(self, term: str):
        t = self.term_id.get(term)
        if t is None:
            return None
        lo, hi = np.searchsorted(self.pair_term, [t, t + 1])
        if lo == hi:
            return None
        return self.pair_doc[lo:hi], self.pair_tf[lo:hi]

    def df(self, term: str) -> int:
        p = self.postings(term)
        return 0 if p is None else int(p[0].size)

    def ranking(self, terms, lang: str | None = None):
        """Every matching document as (doc_key, rounded score), ranked."""
        sums = np.zeros(self.n, dtype=np.float64)
        hit = np.zeros(self.n, dtype=bool)
        for term in sorted(set(terms)):
            p = self.postings(term)
            if p is None:
                continue
            docs, tf = p
            df = docs.size
            idf = float(np.log(1.0 + (self.n - df + 0.5) / (df + 0.5)))
            dl = self.dl[docs]
            sums[docs] += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / self.avgdl)
            )
            hit[docs] = True
        if lang is not None:
            hit &= self.langs == lang
        docs = np.flatnonzero(hit)
        scores = np.round(sums[docs], DECIMALS)
        keys = self.keys[docs]
        order = np.lexsort((keys, -scores))
        return [(int(keys[i]), float(scores[i])) for i in order]

    def topk(self, terms, k: int = 10, lang: str | None = None, offset: int = 0):
        return self.ranking(terms, lang)[offset : offset + k]


def same_ranking(got, want) -> bool:
    """Top-k lists agree: same length, scores equal within one rounding
    step, and the same documents apart from reordering among tied scores
    (and a tie band cut by k)."""
    if len(got) != len(want):
        return False
    if not want:
        return True
    gs = np.array([s for _, s in got], dtype=np.float64)
    ws = np.array([s for _, s in want], dtype=np.float64)
    if np.max(np.abs(gs - ws)) > SCORE_TOL:
        return False
    if [d for d, _ in got] == [d for d, _ in want]:
        return True
    cut = ws[-1] + SCORE_TOL
    above_w = {d for d, s in want if s > cut}
    above_g = {d for d, s in got if s > cut}
    return above_w == above_g
