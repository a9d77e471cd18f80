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

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..index.build import DOC_ID_PART_SHIFT, FIELD_SEP
from ..index.codec import bm25_idf, decode_blocks
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

REFERENCE_DEFAULTS = dict(min_tf=1, min_df=1, max_df=500, min_len=5,
                          max_terms=200, min_should_pct=0.1)


def doc_term_vector(engine, doc_id: int) -> list[tuple[str, int]]:
    """(term, tf) pairs of one doc's content terms, in term order,
    decoded in the driver from its own source part's postings (the
    Engine's part cache, or the part's file): the blocks whose doc
    range holds the doc, in one batched decode."""
    import pyarrow as pa
    tables = engine.executor._driver_tables()
    part = doc_id >> DOC_ID_PART_SHIFT
    if part not in tables.parts:
        return []
    (post,) = tables.postings([part], [
        "first_doc", "last_doc", "doc_count", "docs_payload",
        "tfs_payload", "dls_payload"])
    rows = np.flatnonzero(
        (post.table.column("first_doc").to_numpy() <= doc_id)
        & (post.table.column("last_doc").to_numpy() >= doc_id))
    terms = post.terms[np.searchsorted(post.starts, rows, side="right") - 1]
    content = np.fromiter((FIELD_SEP not in t for t in terms), bool,
                          terms.size)
    rows, terms = rows[content], terms[content]
    blocks = post.table.take(pa.array(rows, pa.int64()))
    counts = blocks.column("doc_count").to_numpy()
    ids, tfs, _ = decode_blocks(
        *(blocks.column(c).to_pylist()
          for c in ("docs_payload", "tfs_payload", "dls_payload")),
        counts)
    hit = ids == np.uint64(doc_id)
    return list(zip(terms[np.repeat(np.arange(rows.size), counts)[hit]]
                    .tolist(), tfs[hit].astype(int).tolist()))


def interesting_terms(engine, doc_id: int, **kw) -> list[str]:
    """Driver-side term selection from the doc's indexed term vector —
    deterministic: tf·idf desc, then term asc."""
    opts = {**DEFAULTS, **kw}
    n_docs = float(engine.executor.meta["n_docs"])
    max_df = opts.get("max_df", int(n_docs * opts["max_df_ratio"]))
    vector = doc_term_vector(engine, doc_id)
    dfs = engine.executor._term_dict().dfs([t for t, _ in vector])
    scored = []
    for t, tf in vector:
        df = dfs.get(t, 0)
        if (tf >= opts["min_tf"] and opts["min_df"] <= df <= max_df
                and len(t) >= opts["min_len"]):
            scored.append((tf * float(bm25_idf(float(df), n_docs)), t))
    scored.sort(key=lambda x: (-x[0], x[1]))
    return [t for _, t in scored[:opts["max_terms"]]]


def more_like_this(engine, doc_id: int, k: int = 10, **kw) -> DataFrame:
    """→ DataFrame(doc_id, score) of the k most similar docs
    (source excluded)."""
    terms = interesting_terms(engine, doc_id, **kw)
    if not terms:
        return engine.spark.createDataFrame([], "doc_id long, score double")
    pct = {**DEFAULTS, **kw}["min_should_pct"]
    tree = Bool(should=[TermLeaf(t) for t in terms],
                min_should=max(1, math.ceil(pct * len(terms))))
    res = engine.executor.run(tree, k=None)
    return (res.filter(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
