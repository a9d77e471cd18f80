"""more_like_this (reference Q16,
/root/reference/openaleph_search/query/more_like_this.py:13-80; knobs
settings.py:94-99): pick the source doc's "interesting terms" — tf ≥
min_tf, df within [min_df, max_df], length ≥ min_len — rank by
tf·idf, take the top ``max_terms``, then run a disjunctive BM25 query
with ``minimum_should_match = ceil(pct · n_terms)``, excluding the
source doc itself.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.build import DOC_ID_PART_SHIFT
from ..index.codec import bm25_idf
from ..index.storage import IndexStorage
from .ir import Bool, TermLeaf


# Knob-parity table vs the reference (settings.py:94-99). Semantics
# match 1:1; the DEFAULT values deliberately differ because the
# reference tunes for long multilingual entity/person documents while
# this engine's testbed is short synthetic code docs (~40 tokens):
#
#   knob             reference              here      why different
#   min_tf           mlt_min_term_freq=1    1         same
#   min_df           mlt_min_doc_freq=1     1         same
#   max_terms        mlt_max_query_terms=200  25      short docs have
#                                                     <50 distinct terms
#   min_should_pct   "10%"                  0.1       same
#   min_len          mlt_min_word_length=5  3         code identifiers
#                                                     are short
#   max_df / ratio   mlt_max_doc_freq=500   ratio 0.9 absolute caps are
#                    (absolute)                       corpus-size traps;
#                                                     pass max_df=500
#                                                     for exact parity
#
# REFERENCE_DEFAULTS gives the reference's exact values for callers
# that want drop-in parity: more_like_this(..., **REFERENCE_DEFAULTS).
DEFAULTS = dict(min_tf=1, min_df=1, max_df_ratio=0.9, min_len=3,
                max_terms=25, min_should_pct=0.1)

# driver-memory guard on the probe doc's term-vector gather (VERDICT
# r5): far above any real document's vocabulary, so exact in practice
MAX_VECTOR_TERMS = 200_000
REFERENCE_DEFAULTS = dict(min_tf=1, min_df=1, max_df=500, min_len=5,
                          max_terms=200, min_should_pct=0.1)


def shard_col(doc_id_col, num_shards: int):
    """The postings shard holding a doc: its source part mod
    ``num_shards``."""
    return F.pmod(F.shiftright(doc_id_col, DOC_ID_PART_SHIFT),
                  F.lit(num_shards)).cast("int")


def doc_term_vector(spark: SparkSession, storage: IndexStorage,
                    doc_id: int) -> list[tuple[str, int]]:
    """(term, tf) pairs of one doc, decoded from its shard's blocks —
    shard partition pruning + first/last_doc rowgroup pruning narrow the
    scan to the doc's own partition's vocabulary."""
    import numpy as np
    import pandas as pd
    from ..index.codec import varint_decode
    blocks = (storage.postings(spark)
              .select("term", "shard", "first_doc", "last_doc",
                      "doc_count", "docs_payload", "tfs_payload")
              .filter((F.col("shard") == shard_col(
                  F.lit(doc_id), storage.read_meta()["num_shards"]))
                      & (F.col("first_doc") <= doc_id)
                      & (F.col("last_doc") >= doc_id)))

    from ..index.build import FIELD_SEP

    def extract(it):
        # batched decode (no per-row python): ONE varint pass over all
        # kept blocks, segmented cumsum, then a mask on ids == doc_id
        for pdf in it:
            pdf = pdf[~pdf["term"].str.contains(FIELD_SEP, regex=False)]
            if not len(pdf):
                yield pd.DataFrame({"term": [], "tf": []})
                continue
            counts = pdf["doc_count"].to_numpy(np.int64)
            starts = np.cumsum(counts) - counts
            deltas = varint_decode(b"".join(pdf["docs_payload"]))
            total = np.cumsum(deltas.astype(np.int64))
            base = np.zeros(counts.size, dtype=np.int64)
            base[1:] = total[starts[1:] - 1]
            ids = total - np.repeat(base, counts)
            tfs = varint_decode(b"".join(pdf["tfs_payload"])) + np.uint64(1)
            mask = ids == doc_id
            term_idx = np.repeat(np.arange(len(pdf)), counts)[mask]
            yield pd.DataFrame({
                "term": pdf["term"].to_numpy()[term_idx],
                "tf": tfs[mask].astype(np.int32)})

    # bounded gather: TakeOrdered keeps the driver-side vector at most
    # MAX_VECTOR_TERMS rows even for a pathological all-unique-token
    # doc (ordering by tf desc, term asc is deterministic; any real
    # doc's vocabulary is far below the cap, so results are exact)
    return [(r["term"], r["tf"]) for r in
            blocks.mapInPandas(extract, "term string, tf int")
            .orderBy(F.desc("tf"), F.asc("term"))
            .limit(MAX_VECTOR_TERMS).collect()]


def interesting_terms(spark: SparkSession, storage: IndexStorage,
                      doc_id: int, **kw) -> list[str]:
    """Driver-side term selection from the doc's indexed term vector —
    deterministic: tf·idf desc, then term asc."""
    opts = {**DEFAULTS, **kw}
    meta = storage.read_meta()
    n_docs = float(meta["n_docs"])
    max_df = opts.get("max_df", int(n_docs * opts["max_df_ratio"]))
    tf_rows = [{"term": t, "tf": tf}
               for t, tf in doc_term_vector(spark, storage, doc_id)]
    if not tf_rows:
        return []
    terms = [r["term"] for r in tf_rows]
    stats = {r["term"]: int(r["df"]) for r in
             storage.term_stats(spark)
             .filter(F.col("term").isin(terms)).collect()}
    scored = []
    for r in tf_rows:
        t, tf = r["term"], int(r["tf"])
        df = stats.get(t, 0)
        if (tf >= opts["min_tf"] and opts["min_df"] <= df <= max_df
                and len(t) >= opts["min_len"]):
            scored.append((tf * float(bm25_idf(float(df), n_docs)), t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:opts["max_terms"]]]


def more_like_this(engine, doc_id: int, k: int = 10, **kw) -> DataFrame:
    """→ DataFrame(doc_id, score) of the k most similar docs
    (source excluded)."""
    terms = interesting_terms(engine.spark, engine.storage, doc_id, **kw)
    if not terms:
        return engine.spark.createDataFrame([], "doc_id long, score double")
    pct = {**DEFAULTS, **kw}["min_should_pct"]
    tree = Bool(should=[TermLeaf(t) for t in terms],
                min_should=max(1, math.ceil(pct * len(terms))))
    res = engine.executor.run(tree, k=None)
    return (res.filter(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
