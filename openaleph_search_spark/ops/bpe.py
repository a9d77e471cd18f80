"""Byte-pair-encoding tokenizer training + encoding.

The scale-correct split every production tokenizer trainer uses
(HuggingFace tokenizers, SentencePiece in word-count mode): the ONLY
corpus-sized pass is the distributed word count
(:func:`openaleph_search_spark.ops.textstats.vocab_table` — one
explode + partial-aggregated groupBys), and the merge loop runs
driver-side over the compact (word, count) vocabulary — merges touch
vocabulary entries, never the corpus. Encoding distributes again as a
pandas UDF that encodes each UNIQUE token once per batch (factorize),
so the per-token Python cost is amortized over repeats.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .util import spread

#: end-of-word sentinel (a char the analyzer's token alphabet
#: [a-z0-9_] can never produce)
EOW = "▁"


def learn_bpe(vocab: DataFrame | list[tuple[str, int]],
              num_merges: int = 200,
              min_pair_count: int = 2,
              max_vocab: int = 500_000) -> list[tuple[str, str]]:
    """Classic BPE (Sennrich et al. 2016) over a word-count
    vocabulary: repeatedly merge the most frequent adjacent symbol
    pair (count-desc, pair lexicographic tiebreak → deterministic).
    ``vocab`` is a DataFrame with (token, tf) columns — the
    :func:`vocab_table` output, collected bounded by ``max_vocab``
    rank — or an already-collected list of (token, count).
    Returns the ordered merge list (the tokenizer model)."""
    if isinstance(vocab, DataFrame):
        rows = (vocab.select("token", "tf")
                .orderBy(F.desc("tf"), "token")
                .limit(max_vocab).collect())
        words = [(r["token"], int(r["tf"])) for r in rows]
    else:
        words = [(t, int(c)) for t, c in vocab]
    # symbol sequences per word; EOW marks word end (standard BPE)
    seqs = [tuple(w) + (EOW,) for w, _ in words]
    counts = [c for _, c in words]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for seq, c in zip(seqs, counts):
            for a, b in zip(seq, seq[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _n = best
        merges.append((a, b))
        ab = a + b
        out = []
        for seq in seqs:
            if a not in seq:
                out.append(seq)
                continue
            ns, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    ns.append(ab)
                    i += 2
                else:
                    ns.append(seq[i])
                    i += 1
            out.append(tuple(ns))
        seqs = out
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode ONE word with the learned merges (lowest-rank pair
    first — the exact inverse of training order)."""
    seq = list(word) + [EOW]
    while len(seq) > 1:
        best_i, best_r = -1, None
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_r is None or r < best_r):
                best_i, best_r = i, r
        if best_i < 0:
            break
        seq[best_i:best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return seq


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, bpe_tokens, n_pieces): each doc's analyzer tokens
    encoded with the learned merges. Every UNIQUE token in a batch is
    encoded exactly once (factorize + per-unique loop) — the Python
    cost is vocabulary-shaped, not token-stream-shaped, matching the
    repo's no-per-row-Python rule in spirit for an inherently
    iterative algorithm."""
    ranks = {p: i for i, p in enumerate(merges)}

    def fn(it):
        cache: dict[str, list[str]] = {}
        for pdf in it:
            toks = (pdf[text_col].fillna("").str.lower()
                    .str.split(r"[^a-z0-9_]+", regex=True)
                    .map(lambda ts: [t for t in ts if t]))
            out_pieces, out_n = [], []
            for ts in toks:
                pieces: list[str] = []
                for t in ts:
                    enc = cache.get(t)
                    if enc is None:
                        enc = encode_word(t, ranks)
                        cache[t] = enc
                    pieces.extend(enc)
                out_pieces.append(pieces)
                out_n.append(len(pieces))
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "bpe_tokens": pd.Series(out_pieces, dtype=object),
                "n_pieces": np.asarray(out_n, dtype=np.int64)})
    return spread(df.select(id_col, text_col), 1).mapInPandas(
        fn, "doc_id long, bpe_tokens array<string>, n_pieces long")
