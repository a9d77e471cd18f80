"""Match + blocking queries (reference Q17/Q18,
/root/reference/openaleph_search/query/matching.py:168-338): find
likely duplicates/variants of a probe entity via cheap blocking keys,
then score candidates with tiered weighted signals.

Re-based from FtM name signals onto the code-document domain: blocking
keys are MinHash band buckets of content shingles (the same role the
reference's ``name_keys``/``phonetic``/``symbols`` filter-context OR
plays — matching.py:255-338); scoring is a weighted signal sum
mirroring the reference's tiered boosts (names 5.0 / keys 3.0 / parts
terms-set 1.0 / phonetic 0.8 — matching.py:168-252):

    5.0 · [sha256 identical]          (exact content identity)
    3.0 · [shingle jaccard ≥ 0.5]     (near-duplicate body)
    1.0 · token-set jaccard           (graded lexical overlap)
    0.8 · [same lang]                 (metadata agreement)
"""
from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .dedup import _band_hash_batches, _shingle_set
from .textstats import tokens_col

_TOKEN_RE = re.compile(r"[a-z0-9_]+")


def _probe_bands(probe_text: str, num_hashes: int = 64, bands: int = 16,
                 shingle: int = 3, seed: int = 7,
                 hash_fn: str = "fast") -> list[tuple[int, int]]:
    """Driver-side band keys of the probe (same hash family as
    _band_hash_batches)."""
    toks = _TOKEN_RE.findall(probe_text.lower())
    sh = list(dict.fromkeys(
        " ".join(toks[i:i + shingle])
        for i in range(max(len(toks) - shingle + 1, 0))))
    if not sh:
        return []
    pdf = pd.DataFrame({"doc_id": [0], "_toks": [sh]})
    fn = _band_hash_batches(num_hashes, bands, seed, hash_fn)
    out = next(fn(iter([pdf])))
    return list(zip(out["band"].tolist(), out["bh"].tolist()))


def blocking_candidates(df: DataFrame, probe_text: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        num_hashes: int = 64, bands: int = 16,
                        shingle: int = 3,
                        hash_fn: str = "fast") -> DataFrame:
    """Q18: filter-context candidate retrieval — docs sharing ≥1 MinHash
    band bucket with the probe. Pure predicate, no scoring; the band
    keys are a tiny broadcast ``isin``."""
    base = (df.select(F.col(id_col).alias("doc_id"),
                      _shingle_set(text_col, shingle).alias("_toks"))
            .filter(F.size("_toks") > 0))
    banded = base.mapInPandas(
        _band_hash_batches(num_hashes, bands, hash_fn=hash_fn),
        "doc_id long, band int, bh long")
    keys = _probe_bands(probe_text, num_hashes, bands, shingle,
                        hash_fn=hash_fn)
    if not keys:
        return df.sparkSession.createDataFrame([], "doc_id long")
    pred = F.concat_ws(":", "band", "bh").isin(
        [f"{b}:{h}" for b, h in keys])
    return banded.filter(pred).select("doc_id").distinct()


def match_query(df: DataFrame, probe_text: str, probe_lang: str | None,
                k: int = 10, id_col: str = "doc_id",
                text_col: str = "text", lang_col: str = "lang",
                shingle: int = 3, num_hashes: int = 64,
                bands: int = 16, hash_fn: str = "fast") -> DataFrame:
    """Q17: blocking → tiered weighted scoring → top-k
    (doc_id, match_score, signals)."""
    cand_ids = blocking_candidates(df, probe_text, id_col, text_col,
                                   num_hashes=num_hashes, bands=bands,
                                   shingle=shingle, hash_fn=hash_fn)
    cand = df.join(
        F.broadcast(cand_ids.withColumnRenamed("doc_id", "__cand_id")),
        df[id_col] == F.col("__cand_id"), "left_semi")

    probe_sha = hashlib.sha256(probe_text.strip().encode()).hexdigest()
    probe_toks = sorted(set(_TOKEN_RE.findall(probe_text.lower())))
    toks = F.array_distinct(tokens_col(F.col(text_col)))
    probe_arr = F.array(*[F.lit(t) for t in probe_toks])
    tok_inter = F.size(F.array_intersect(toks, probe_arr))
    tok_jacc = (tok_inter / F.greatest(
        F.size(toks) + F.lit(len(probe_toks)) - tok_inter, F.lit(1)))

    sh = _shingle_set(text_col, shingle)
    probe_sh = list(dict.fromkeys(
        " ".join(probe_toks_seq)
        for probe_toks_seq in (
            _TOKEN_RE.findall(probe_text.lower())[i:i + shingle]
            for i in range(max(len(_TOKEN_RE.findall(
                probe_text.lower())) - shingle + 1, 0)))))
    probe_sh_arr = F.array(*[F.lit(s) for s in probe_sh]) if probe_sh \
        else F.array().cast("array<string>")
    sh_inter = F.size(F.array_intersect(sh, probe_sh_arr))
    sh_jacc = (sh_inter / F.greatest(
        F.size(sh) + F.lit(len(probe_sh)) - sh_inter, F.lit(1)))

    score = (
        F.when(F.sha2(F.trim(F.col(text_col)), 256) == probe_sha, 5.0)
         .otherwise(0.0)
        + F.when(sh_jacc >= 0.5, 3.0).otherwise(0.0)
        + tok_jacc * 1.0
        + (F.when(F.col(lang_col) == probe_lang, 0.8).otherwise(0.0)
           if probe_lang is not None else F.lit(0.0)))
    return (cand
            .withColumn("match_score", F.round(score, 6))
            .withColumn("tok_jaccard", F.round(tok_jacc, 6))
            .withColumn("shingle_jaccard", F.round(sh_jacc, 6))
            .select(F.col(id_col).alias("doc_id"), "match_score",
                    "tok_jaccard", "shingle_jaccard")
            .orderBy(F.desc("match_score"), F.asc("doc_id"))
            .limit(k))
