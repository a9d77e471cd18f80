"""BM25 oracle over the distinct texts, weighted by replica counts.

Independent of the engine: whitespace tokens of the generated texts
(the corpus is lower-case ASCII words, so no analyzer is needed), the
Lucene BM25 formula (k1=1.2, b=0.75, idf = ln(1 + (N-df+.5)/(df+.5))),
and phrase tf = number of anchors where the phrase occurs verbatim.

Two weight vectors describe an index state, one entry per text:

* ``stats_w`` — rows the collection statistics count (N, df, avgdl).
  Deletes only add tombstones, so until ``compact()`` the statistics
  still count deleted rows; appends add rows.
* ``live_w`` — live replicas, the rows a read may return.

Every doc of one text scores the same, so a top-k is the text scores
expanded by ``live_w`` and cut at k.
"""
from __future__ import annotations

import math

import numpy as np

from .inputs import RARE, TOP_K, WORDS, Read

K1 = 1.2
B = 0.75
VOCAB = WORDS + [RARE]


class Oracle:
    def __init__(self, texts):
        self.toks = [t.split() for t in texts["text"]]
        self.lang = texts["lang"].to_numpy()
        idx = {w: i for i, w in enumerate(VOCAB)}
        self.tf = np.zeros((len(self.toks), len(VOCAB)), dtype=np.int64)
        for r, t in enumerate(self.toks):
            for w in t:
                self.tf[r, idx[w]] += 1
        self.col = idx
        self.dl = self.tf.sum(axis=1).astype(np.float64)

    # -- scoring over one index state ----------------------------------------
    def _stats(self, stats_w):
        n = float(stats_w.sum())
        avgdl = float((stats_w * self.dl).sum()) / n
        norm = K1 * (1 - B + B * self.dl / avgdl)
        return n, norm

    def _idf(self, term, stats_w, n):
        df = float(stats_w[self.tf[:, self.col[term]] > 0].sum())
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def _term(self, term, stats_w, n, norm):
        tf = self.tf[:, self.col[term]].astype(np.float64)
        return tf > 0, self._idf(term, stats_w, n) * tf / (tf + norm)

    def _phrase(self, terms, stats_w, n, norm):
        m = len(terms)
        ptf = np.zeros(len(self.toks))
        for r, t in enumerate(self.toks):
            ptf[r] = sum(1 for i in range(len(t) - m + 1)
                         if t[i:i + m] == terms)
        idf = sum(self._idf(t, stats_w, n) for t in set(terms))
        return ptf > 0, idf * ptf / (ptf + norm)

    def text_scores(self, q: str, stats_w) -> tuple[np.ndarray, np.ndarray]:
        """(match mask, score) per text for one query string of the
        shapes the workloads issue: ``a b`` (AND), ``a OR b``,
        ``"a b [c]"`` and ``a pf*``."""
        n, norm = self._stats(stats_w)
        if q.startswith('"'):
            return self._phrase(q.strip('"').split(), stats_w, n, norm)
        if " OR " in q:
            parts = [self._term(t, stats_w, n, norm) for t in q.split(" OR ")]
            return (np.logical_or.reduce([p[0] for p in parts]),
                    sum(np.where(p[0], p[1], 0.0) for p in parts))
        mask = np.ones(len(self.toks), dtype=bool)
        score = np.zeros(len(self.toks))
        for t in q.split():
            if t.endswith("*"):
                exp = [w for w in VOCAB if w.startswith(t[:-1])
                       and stats_w[self.tf[:, self.col[w]] > 0].sum() > 0]
                parts = [self._term(w, stats_w, n, norm) for w in exp]
                m = np.logical_or.reduce([p[0] for p in parts])
                s = sum(np.where(p[0], p[1], 0.0) for p in parts)
            else:
                m, s = self._term(t, stats_w, n, norm)
            mask &= m
            score = score + np.where(m, s, 0.0)
        return mask, score

    # -- expected results -----------------------------------------------------
    def topk_scores(self, q: str, stats_w, live_w, lang: str | None = None,
                    k: int = TOP_K) -> tuple[list[float], np.ndarray]:
        mask, score = self.text_scores(q, stats_w)
        mask = mask & (live_w > 0)
        if lang is not None:
            mask &= self.lang == lang
        ids = np.flatnonzero(mask)
        order = ids[np.argsort(-score[ids], kind="stable")]
        out: list[float] = []
        for t in order:
            out.extend([float(score[t])] * int(live_w[t]))
            if len(out) >= k:
                break
        return out[:k], score

    def count(self, q: str, stats_w, live_w) -> int:
        mask, _ = self.text_scores(q, stats_w)
        return int(live_w[mask].sum())

    def facet(self, q: str, stats_w, live_w) -> dict[str, int]:
        mask, _ = self.text_scores(q, stats_w)
        out: dict[str, int] = {}
        for t in np.flatnonzero(mask & (live_w > 0)):
            out[self.lang[t]] = out.get(self.lang[t], 0) + int(live_w[t])
        return out


def check_hits(oracle: Oracle, q: str, hits: list[tuple[int, float, int]],
               stats_w, live_w, lang=None, k=TOP_K,
               tol: float = 1e-9) -> str | None:
    """hits: [(doc_id, score, text_id)] in returned order. → None when
    the top-k matches the oracle, else a one-line reason."""
    want, per_text = oracle.topk_scores(q, stats_w, live_w, lang, k)
    if len(hits) != len(want):
        return f"{q!r}: {len(hits)} hits, oracle {len(want)}"
    for (d, s, t), w in zip(hits, want):
        if abs(s - w) > tol:
            return f"{q!r}: score {s!r} != oracle {w!r}"
        if abs(s - per_text[t]) > tol:
            return f"{q!r}: doc {d} scored {s!r}, its text {per_text[t]!r}"
        if live_w[t] <= 0:
            return f"{q!r}: doc {d} of deleted text {t}"
    return None


def check_shape(hits: list[tuple[int, float, int]], k=TOP_K) -> str | None:
    """At most k hits, ordered by score descending then doc_id."""
    if len(hits) > k:
        return f"{len(hits)} hits > k={k}"
    keys = [(-s, d) for d, s, _ in hits]
    if keys != sorted(keys):
        return "hits not ordered by (score desc, doc_id asc)"
    return None


def read_query(read: Read) -> str:
    return read.args.get("q", "")
