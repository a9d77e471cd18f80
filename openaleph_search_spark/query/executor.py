"""Distributed top-k BM25 execution over the postings table.

The reference delegates retrieval to ES/Lucene (WAND + impacts,
implicit; /root/reference/openaleph_search/query/base.py:515-533 just
calls ``es.search``).  Here the physical strategy is Spark-native:

  scatter:  postings filtered to the query's terms (parquet predicate
            pushdown on ``term`` + partition pruning on ``shard``)
            → per-shard grouped-map evaluator (one task per doc-range
            shard ≈ one ES shard search)
  gather:   each shard emits ≤ k rows → global orderBy().limit(k)
            (tiny: shards × k rows)

The per-shard evaluator is a vectorized **block-max term-at-a-time
top-k** (MaxScore family, same skip machinery as block-max WAND):

* terms processed in descending max-impact order
  (``idf × max block_max_tfnorm``);
* once the running k-th best score θ exceeds the summed max impacts of
  the unprocessed terms, no new doc can enter the top-k → remaining
  terms decode **only blocks whose [first_doc, last_doc] range overlaps
  current candidates** (binary search on block metadata — this is the
  block-max skip);
* AND chains evaluate rarest-first and restrict later terms' block
  decodes to the running intersection.

Scores are exact float64 Lucene BM25 regardless of pruning (pruning
only skips docs that provably cannot reach the top-k), so results are
rank- AND score-identical across shard counts and parallelism levels.

Filters (dataset/lang/… predicates) are pushed into the evaluator by
cogrouping an allowed-doc_id DataFrame per shard — the filter stays
distributed, never collected to the driver.
"""
from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.build import (BIGRAM_FIELD, DOC_ID_PART_SHIFT, FIELD_SEP,
                           field_of_term)
from ..index.codec import (bm25_idf, bm25_tfnorm, decode_positions,
                           varint_decode)
from ..index.storage import IndexStorage
from .ir import (Bool, DisMax, MatchAll, Node, PhraseLeaf, PrefixLeaf,
                 TermLeaf, WildcardLeaf)

RESULT_SCHEMA = "doc_id long, score double"


@dataclass(frozen=True)
class MetaSpec:
    """Driver-translatable doc_meta restriction for the scatter path.

    Carries the SAME semantics as the engine's Column predicate for the
    filter subset it supports — string equality/isin (``in``), excludes
    with null-widening (``notin_or_null``), and is-null (``isnull``) —
    so per-shard tasks can evaluate it on the doc_meta rows they read
    themselves (no cogroup shuffle of the filter set). Anything richer
    (ranges, casts, non-string comparisons) keeps the legacy cogrouped
    path; the engine only builds a MetaSpec when translation is exact.
    """
    conjuncts: tuple = ()          # (op, column, tuple(values))
    match_none: bool = False

    def cols(self) -> list[str]:
        return sorted({c[1] for c in self.conjuncts})

    def mask(self, pdf: pd.DataFrame) -> np.ndarray:
        m = np.ones(len(pdf), dtype=bool)
        for op, col, vals in self.conjuncts:
            s = pdf[col]
            if op == "in":
                # Spark `col == v` / `col.isin(vals)` is null-rejecting;
                # pandas isin is False for nulls — identical outcome
                m &= s.isin(vals).to_numpy()
            elif op == "notin_or_null":
                m &= (~s.isin(vals) | s.isna()).to_numpy()
            elif op == "isnull":
                m &= s.isna().to_numpy()
            else:  # pragma: no cover - guarded at construction
                raise ValueError(f"unknown MetaSpec op {op!r}")
        return m


# ---------------------------------------------------------------------------
# sorted-array merge helpers (all vectorized)
# ---------------------------------------------------------------------------

def _in_sorted(values: np.ndarray, sorted_ref: np.ndarray) -> np.ndarray:
    """Membership of ``values`` in a SORTED unique reference array —
    O(n log m) binary search, no re-sorting (np.isin sorts per call)."""
    if sorted_ref.size == 0:
        return np.zeros(values.size, dtype=bool)
    idx = np.searchsorted(sorted_ref, values)
    np.minimum(idx, sorted_ref.size - 1, out=idx)
    return sorted_ref[idx] == values


def _merge_sum(ids_a, sc_a, ids_b, sc_b):
    """Union of two sorted (ids, scores) maps, summing scores."""
    ids = np.concatenate([ids_a, ids_b])
    sc = np.concatenate([sc_a, sc_b])
    order = np.argsort(ids, kind="mergesort")
    ids, sc = ids[order], sc[order]
    if ids.size == 0:
        return ids, sc
    new = np.empty(ids.size, dtype=bool)
    new[0] = True
    np.not_equal(ids[1:], ids[:-1], out=new[1:])
    starts = np.flatnonzero(new)
    return ids[starts], np.add.reduceat(sc, starts)


def _merge_sum_multi(ids_a, vals_a: list, ids_b, vals_b: list):
    """Union of two sorted maps with several parallel value arrays."""
    ids = np.concatenate([ids_a, ids_b])
    order = np.argsort(ids, kind="mergesort")
    ids = ids[order]
    if ids.size == 0:
        return ids, [v.copy() for v in vals_a]
    new = np.empty(ids.size, dtype=bool)
    new[0] = True
    np.not_equal(ids[1:], ids[:-1], out=new[1:])
    starts = np.flatnonzero(new)
    out_vals = []
    for va, vb in zip(vals_a, vals_b):
        v = np.concatenate([va, vb])[order]
        out_vals.append(np.add.reduceat(v, starts))
    return ids[starts], out_vals


def _merge_max(ids_a, sc_a, ids_b, sc_b):
    """Union of two sorted maps, taking the max score (dis_max)."""
    ids = np.concatenate([ids_a, ids_b])
    sc = np.concatenate([sc_a, sc_b])
    order = np.argsort(ids, kind="mergesort")
    ids, sc = ids[order], sc[order]
    if ids.size == 0:
        return ids, sc
    new = np.empty(ids.size, dtype=bool)
    new[0] = True
    np.not_equal(ids[1:], ids[:-1], out=new[1:])
    starts = np.flatnonzero(new)
    return ids[starts], np.maximum.reduceat(sc, starts)


def _intersect_sum(ids_a, sc_a, ids_b, sc_b):
    """Intersection of two sorted maps, summing scores."""
    common, ia, ib = np.intersect1d(ids_a, ids_b, assume_unique=True,
                                    return_indices=True)
    return common, sc_a[ia] + sc_b[ib]


def _setdiff(ids_a, sc_a, ids_b):
    mask = ~_in_sorted(ids_a, ids_b)
    return ids_a[mask], sc_a[mask]


class _ShardEval:
    """Evaluates one query tree over one shard's posting blocks."""

    def __init__(self, blocks_by_term: dict[str, pd.DataFrame],
                 idf: dict[str, float], k: int | None,
                 allowed: np.ndarray | None, k1: float, b: float,
                 avgdl_by_field: dict[str, float],
                 bigrams: bool = False,
                 b_by_field: dict[str, float] | None = None):
        self.blocks = blocks_by_term
        self.idf = idf
        self.k = k
        self.allowed = allowed  # sorted doc_ids or None
        self.k1 = k1
        self.b = b
        # per-field BM25 b override (reference weak_length_norm b=0.25,
        # index/util.py:83-90); fields not listed use the global b
        self.b_by_field = b_by_field or {}
        self.avgdl_by_field = avgdl_by_field
        self.bigrams = bigrams  # T16 shingle field present in the index
        # memo for unrestricted decodes: synonym/dis_max trees evaluate
        # the same term from several branches
        self._decode_cache: dict[str, tuple] = {}

    def _avgdl(self, term: str) -> float:
        return self.avgdl_by_field.get(field_of_term(term), 1.0)

    def _b(self, term: str) -> float:
        return self.b_by_field.get(field_of_term(term), self.b)

    # -- postings decode ----------------------------------------------------
    def _term_blocks(self, term: str,
                     candidates: np.ndarray | None) -> pd.DataFrame | None:
        pdf = self.blocks.get(term)
        if pdf is None or pdf.empty:
            return None
        if candidates is not None:
            lo = np.searchsorted(candidates, pdf["first_doc"].to_numpy())
            hi = np.searchsorted(candidates, pdf["last_doc"].to_numpy(),
                                 side="right")
            pdf = pdf[hi > lo]  # block range contains ≥1 candidate
            if pdf.empty:
                return None
        return pdf

    def _decode_term(self, term: str, candidates: np.ndarray | None = None,
                     want_positions: bool = False):
        """→ (doc_ids, scores, tfs, dls, positions) sorted by doc_id,
        restricted to ``allowed`` and optionally to ``candidates``.
        ``positions`` is a list of per-doc arrays (empty unless asked).

        Batched decode: ONE varint pass per payload type over all kept
        blocks (segmented cumsum restores absolute doc ids), then one
        binary-search membership pass for the filters.
        """
        cacheable = candidates is None and not want_positions
        if cacheable and term in self._decode_cache:
            return self._decode_cache[term]
        pdf = self._term_blocks(term, candidates)
        empty = (np.empty(0, np.int64), np.empty(0, np.float64),
                 np.empty(0, np.uint64), np.empty(0, np.float64), [])
        if pdf is None:
            if cacheable:
                self._decode_cache[term] = empty
            return empty
        counts = pdf["doc_count"].to_numpy(np.int64)
        n = int(counts.sum())
        if n == 0:
            return empty
        starts = np.cumsum(counts) - counts
        deltas = varint_decode(b"".join(pdf["docs_payload"]))
        # segmented cumsum: deltas restart absolute at each block head
        total = np.cumsum(deltas.astype(np.int64))
        base = np.zeros(counts.size, dtype=np.int64)
        base[1:] = total[starts[1:] - 1]
        ids = total - np.repeat(base, counts)
        tfs = varint_decode(b"".join(pdf["tfs_payload"])) + np.uint64(1)
        dls = varint_decode(b"".join(pdf["dls_payload"]))
        pos_l = (decode_positions(b"".join(pdf["pos_payload"]), tfs)
                 if want_positions else None)

        keep = None
        if candidates is not None:
            keep = _in_sorted(ids, candidates)
        if self.allowed is not None:
            m2 = _in_sorted(ids, self.allowed)
            keep = m2 if keep is None else (keep & m2)
        if keep is not None:
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
            if pos_l is not None:
                pos_l = [p for p, kf in zip(pos_l, keep) if kf]
        if ids.size == 0:
            return empty
        dls = dls.astype(np.float64)
        scores = self.idf.get(term, 0.0) * bm25_tfnorm(
            tfs, dls, self._avgdl(term), self.k1, self._b(term))
        out = (ids, scores, tfs, dls, pos_l if pos_l is not None else [])
        if cacheable:
            self._decode_cache[term] = out
        return out

    # -- node evaluation ------------------------------------------------------
    def eval(self, node: Node, candidates: np.ndarray | None = None,
             root: bool = False):
        if isinstance(node, TermLeaf):
            ids, sc, _, _, _ = self._decode_term(node.term, candidates)
            return ids, sc * node.boost
        if isinstance(node, (PrefixLeaf, WildcardLeaf)):
            acc = (np.empty(0, np.int64), np.empty(0, np.float64))
            for t in (node.expanded or []):
                ids, sc, _, _, _ = self._decode_term(t, candidates)
                acc = _merge_sum(*acc, ids, sc * node.boost)
            return acc
        if isinstance(node, PhraseLeaf):
            return self._eval_phrase(node, candidates)
        if isinstance(node, Bool):
            return self._eval_bool(node, candidates, root=root)
        if isinstance(node, DisMax):
            acc = (np.empty(0, np.int64), np.empty(0, np.float64))
            for child in node.children:
                c_ids, c_sc = self.eval(child, candidates)
                acc = _merge_max(*acc, c_ids, c_sc)
            return acc
        if isinstance(node, MatchAll):
            raise ValueError("match_all reaches the executor only via the "
                             "filter-only fast path")
        raise TypeError(type(node))

    def _eval_bool(self, node: Bool, candidates: np.ndarray | None,
                   root: bool = False):
        ids = scores = None
        if node.must:
            # rarest-first: estimate df by total block doc_count in shard
            def est(n: Node) -> int:
                return sum(int(self.blocks[t]["doc_count"].sum())
                           for leaf in n.leaves()
                           for t in self._leaf_terms(leaf)
                           if t in self.blocks)
            for child in sorted(node.must, key=est):
                c_ids, c_sc = self.eval(child, candidates)
                if ids is None:
                    ids, scores = c_ids, c_sc
                else:
                    ids, scores = _intersect_sum(ids, scores, c_ids, c_sc)
                candidates = ids  # narrow later children's block decodes
                if ids.size == 0:
                    break
        if node.should:
            # θ-pruning is only sound at the ROOT should-group: θ is the
            # k-th best score of the FINAL accumulator, so any enclosing
            # context that later removes (must_not) or rescales docs
            # would make a nested θ an over-estimate → wrong skips.
            sh_ids, sh_sc = self._eval_should(
                node.should, candidates,
                gate=root and not node.must and not node.must_not,
                min_should=(node.min_should or 1) if not node.must else 0)
            if ids is None:
                ids, scores = sh_ids, sh_sc
            else:
                # shoulds only boost docs already matching the musts
                common, ii, si = np.intersect1d(ids, sh_ids,
                                                assume_unique=True,
                                                return_indices=True)
                scores = scores.copy()
                scores[ii] += sh_sc[si]
        if ids is None:
            ids = np.empty(0, np.int64)
            scores = np.empty(0, np.float64)
        if node.must_not and ids.size:
            for child in node.must_not:
                ex_ids, _ = self.eval(child, ids)
                ids, scores = _setdiff(ids, scores, ex_ids)
                if ids.size == 0:
                    break
        return ids, scores

    def _leaf_terms(self, leaf) -> list[str]:
        if isinstance(leaf, TermLeaf):
            return [leaf.term]
        if isinstance(leaf, PhraseLeaf):
            return leaf.terms
        if isinstance(leaf, (PrefixLeaf, WildcardLeaf)):
            return leaf.expanded or []
        return []

    def _eval_should(self, children: list[Node],
                     candidates: np.ndarray | None, gate: bool,
                     min_should: int = 1):
        """Disjunction with block-max pruning (MaxScore/BMW family).

        Children are processed in descending max-impact order; once the
        running k-th best partial score θ exceeds the summed remaining
        max impacts, later children decode only candidate-overlapping
        blocks (no new doc can still reach the top-k).

        ``min_should > 1`` (reference Q16 more_like_this) additionally
        requires that many matching children per doc; pruning is
        disabled there (θ would overestimate the k-th *valid* score).
        """
        def term_bound(t: str) -> float:
            pdf = self.blocks.get(t)
            if pdf is None or not len(pdf):
                return 0.0
            return (self.idf.get(t, 0.0)
                    * float(pdf["block_max_tfnorm"].max()))

        def max_impact(n: Node) -> float:
            # BOOST-AWARE upper bound on what eval(n) can return for any
            # single doc — must mirror eval()'s scoring exactly:
            if isinstance(n, TermLeaf):
                return term_bound(n.term) * n.boost
            if isinstance(n, (PrefixLeaf, WildcardLeaf)):
                return (sum(term_bound(t) for t in (n.expanded or []))
                        * n.boost)
            if isinstance(n, PhraseLeaf):
                # phrase tf ≤ each unigram tf and tfnorm is monotone in
                # tf at fixed dl, so Σ idf_t·max_tfnorm_t bounds the
                # Lucene PhraseQuery score (unigram blocks are always
                # fetched for phrases — see _prepare/_leaf_terms)
                return (sum(term_bound(t) for t in set(n.terms))
                        * n.boost)
            if isinstance(n, Bool):
                # must_not / min_should only REMOVE docs; the additive
                # bound over positive children stays an upper bound
                return sum(max_impact(c) for c in (*n.must, *n.should))
            if isinstance(n, DisMax):
                return max((max_impact(c) for c in n.children),
                           default=0.0)
            return float("inf")  # unknown node → never prune past it

        impacts = [(max_impact(c), i, c) for i, c in enumerate(children)]
        impacts.sort(key=lambda x: (-x[0], x[1]))
        remaining = sum(im for im, _, _ in impacts)
        acc_ids = np.empty(0, np.int64)
        acc_sc = np.empty(0, np.float64)
        acc_cnt = np.empty(0, np.int64)
        track_counts = min_should > 1
        prune = (self.k is not None and gate and candidates is None
                 and not track_counts)
        for im, _, child in impacts:
            # bound for a doc NOT yet accumulated: it can still gain the
            # CURRENT child's impact plus everything after it
            restricted = candidates
            if prune and self.k and acc_ids.size >= self.k:
                theta = np.partition(acc_sc, acc_sc.size - self.k)[
                    acc_sc.size - self.k]
                # strict: a new doc tying theta exactly could still
                # displace the k-th hit via the doc_id-asc tiebreak
                if theta > remaining:
                    restricted = acc_ids  # block-max skip: candidates only
            remaining -= im
            c_ids, c_sc = self.eval(child, restricted)
            if restricted is acc_ids and restricted is not candidates:
                # candidates-only mode: drop docs not already accumulated
                m = _in_sorted(c_ids, acc_ids)
                c_ids, c_sc = c_ids[m], c_sc[m]
            if track_counts:
                acc_ids, (acc_sc, acc_cnt) = _merge_sum_multi(
                    acc_ids, [acc_sc, acc_cnt], c_ids,
                    [c_sc, np.ones(c_ids.size, np.int64)])
            else:
                acc_ids, acc_sc = _merge_sum(acc_ids, acc_sc, c_ids, c_sc)
        if track_counts:
            keep = acc_cnt >= min_should
            return acc_ids[keep], acc_sc[keep]
        return acc_ids, acc_sc

    # -- phrase --------------------------------------------------------------
    def _bigram_terms(self, terms: list[str]) -> list[str]:
        return [f"{BIGRAM_FIELD}{FIELD_SEP}{a} {b}"
                for a, b in zip(terms, terms[1:])]

    def _eval_phrase(self, node: PhraseLeaf, candidates: np.ndarray | None):
        """Positional phrase: tf = #anchors with all terms within slop;
        idf = Σ term idfs (Lucene PhraseQuery scoring shape).

        T16 fast path (index built with bigram shingles, slop 0,
        content field): candidates come from the bigram postings — for
        a 2-term phrase the bigram tf IS the phrase tf (no positional
        decode at all); longer phrases positional-verify only the docs
        containing every consecutive bigram. Exact same scores as the
        positional path (idf = Σ unigram idfs, content dl/avgdl)."""
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        terms = node.terms
        uniq = sorted(set(terms))
        use_bi = (self.bigrams and node.slop == 0 and len(terms) >= 2
                  and all(FIELD_SEP not in t for t in terms))
        if use_bi and len(terms) == 2:
            bi = self._bigram_terms(terms)[0]
            ids, _, tfs, _, _ = self._decode_term(bi, candidates)
            if ids.size == 0:
                return empty
            # content dl of the (tiny) hit set from the rarer unigram
            u = min(uniq, key=lambda t: (
                int(self.blocks[t]["doc_count"].sum())
                if t in self.blocks else 0))
            uids, _, _, udls, _ = self._decode_term(u, ids)
            keep = _in_sorted(ids, uids)  # defensive; always all-true
            ids, tfs = ids[keep], tfs[keep]
            dls = udls[_in_sorted(uids, ids)]
            idf_sum = sum(self.idf.get(t, 0.0) for t in uniq)
            scores = idf_sum * bm25_tfnorm(
                tfs.astype(np.float64), dls, self._avgdl(terms[0]),
                self.k1, self._b(terms[0]))
            return ids, scores * node.boost
        # 1. intersect doc sets rarest-first (docs/tfs only) — with
        # bigrams available, the consecutive shingles (far rarer than
        # unigrams) pre-narrow the candidate set first
        inter = candidates
        pre = self._bigram_terms(terms) if use_bi else []
        order = sorted(set(pre), key=lambda t: (
            int(self.blocks[t]["doc_count"].sum())
            if t in self.blocks else 0)) + sorted(uniq, key=lambda t: (
            int(self.blocks[t]["doc_count"].sum())
            if t in self.blocks else 0))
        for t in order:
            ids, _, _, _, _ = self._decode_term(t, inter)
            inter = ids if inter is None else np.intersect1d(
                ids, inter, assume_unique=True)
            if inter is None or inter.size == 0:
                return empty
        # 2. decode positions restricted to the intersection; build one
        # flat (doc_rank, adjusted_pos) key array per phrase slot
        m = len(terms)
        per_uterm: dict[str, tuple] = {}
        dl_of = np.zeros(inter.size, dtype=np.float64)
        for t in uniq:
            ids, _, _, dls, pos_list = self._decode_term(
                t, inter, want_positions=True)
            counts = np.array([len(p) for p in pos_list], dtype=np.int64)
            flat_pos = (np.concatenate(pos_list).astype(np.int64)
                        if counts.size and counts.sum()
                        else np.empty(0, np.int64))
            ranks = np.searchsorted(inter, ids)
            per_uterm[t] = (np.repeat(ranks, counts), flat_pos)
            dl_of[ranks] = dls

        # composite key (doc_rank << 31) + adjusted position: doc ranks
        # fit 32 bits (per-shard candidates), positions fit 31
        def keys_for(slot: int) -> np.ndarray:
            ranks_rep, flat_pos = per_uterm[terms[slot]]
            return (ranks_rep << np.int64(31)) + (flat_pos - slot)

        if node.slop == 0:
            # anchor matches iff its (doc, adj) key appears in EVERY
            # slot: sort the concatenation, group sizes == m
            all_keys = np.concatenate([keys_for(i) for i in range(m)])
            if all_keys.size == 0:
                return empty
            all_keys.sort(kind="mergesort")
            grp = np.flatnonzero(
                np.r_[True, all_keys[1:] != all_keys[:-1]])
            sizes = np.diff(np.r_[grp, all_keys.size])
            hit = all_keys[grp][sizes == m]
        else:
            # sloppy: every slot needs an adjusted position within slop
            # of the anchor; vectorized nearest-neighbor via
            # searchsorted (cross-doc distance ≥ 2^31 > any slop)
            hit = np.sort(keys_for(0))
            for i in range(1, m):
                if hit.size == 0:
                    return empty
                ref = np.sort(keys_for(i))
                if ref.size == 0:
                    return empty
                idx = np.searchsorted(ref, hit)
                left = ref[np.maximum(idx - 1, 0)]
                right = ref[np.minimum(idx, ref.size - 1)]
                dist = np.minimum(np.abs(hit - left),
                                  np.abs(right - hit))
                hit = hit[dist <= node.slop]
        if hit.size == 0:
            return empty
        doc_ranks = (hit >> np.int64(31)).astype(np.int64)
        uniq_r = np.flatnonzero(
            np.r_[True, doc_ranks[1:] != doc_ranks[:-1]])
        ranks_u = doc_ranks[uniq_r]
        tfs = np.diff(np.r_[uniq_r, doc_ranks.size]).astype(np.float64)
        ids = inter[ranks_u].astype(np.int64)
        dls = dl_of[ranks_u]
        idf_sum = sum(self.idf.get(t, 0.0) for t in uniq)
        scores = idf_sum * bm25_tfnorm(tfs, dls, self._avgdl(terms[0]),
                                       self.k1, self._b(terms[0]))
        return ids, scores * node.boost



def _scatter_eval_group(parts, fs, dm_paths, post_paths, tomb, items,
                        ctx, term_list, read_cols, need_pos, k,
                        spec, mode, meta_fields, facet_fields,
                        meta_read_cols):
    """Evaluate one scatter group (a set of doc-disjoint source parts)
    inside a task: pyarrow-read the group's postings (term-filtered) —
    and, when restricting or faceting, its doc_meta slice — then run
    the same _ShardEval kernel the cogrouped path uses. Returns one
    pandas frame (mode-shaped) or None."""
    import pyarrow.dataset as ds

    ppaths = [post_paths[p] for p in parts if p in post_paths]
    if not ppaths:
        return None
    gdm = [dm_paths[p] for p in parts]

    allowed = None
    meta_pdf = None
    if meta_read_cols is not None:
        mt = ds.dataset(gdm, filesystem=fs).to_table(
            columns=meta_read_cols)
        meta_pdf = mt.to_pandas()
        if spec is not None and spec.conjuncts:
            meta_pdf = meta_pdf[spec.mask(meta_pdf)]
        if tomb is not None and len(meta_pdf):
            ids_m = meta_pdf["doc_id"].to_numpy(np.int64)
            meta_pdf = meta_pdf[~np.isin(ids_m, tomb)]
        meta_pdf = meta_pdf.sort_values("doc_id")
        allowed = meta_pdf["doc_id"].to_numpy(np.int64)
        if allowed.size == 0:
            return None

    blocks = ds.dataset(ppaths, filesystem=fs).to_table(
        filter=ds.field("term").isin(term_list),
        columns=read_cols).to_pandas()
    if blocks.empty:
        return None
    if not need_pos:
        blocks["pos_payload"] = b""
    blocks = SearchExecutor._attach_bounds(blocks, ctx)
    by_term = {t: g.sort_values(["first_doc"])
               for t, g in blocks.groupby("term", sort=False)}
    ev = _ShardEval(by_term, ctx["idf"], ctx["k_prune"], allowed,
                    ctx["k1"], ctx["b"], ctx["avgdl_by_field"],
                    bigrams=ctx["bigrams"],
                    b_by_field=ctx["b_by_field"])

    if mode == "facet":
        ids, _ = ev.eval(items[0][1], root=True)
        if ids.size == 0:
            return None
        pos = np.searchsorted(allowed, ids)
        out = []
        for f in facet_fields:
            vals = meta_pdf[f].to_numpy()[pos]
            vc = pd.Series(vals).value_counts(dropna=True)
            out.append(pd.DataFrame({
                "field": f, "value": vc.index.astype(object),
                "count": vc.to_numpy(np.int64)}))
        return pd.concat(out, ignore_index=True)

    if mode == "count":
        ids, _ = ev.eval(items[0][1], root=True)
        return pd.DataFrame({"n": [int(ids.size)]}) if ids.size else None

    if mode == "hydrate":
        ids, scores = ev.eval(items[0][1], root=True)
        if k is not None and ids.size > k:
            order = np.lexsort((ids, -scores))[:k]
            ids, scores = ids[order], scores[order]
        if ids.size == 0:
            return None
        mt = ds.dataset(gdm, filesystem=fs).to_table(
            filter=ds.field("doc_id").isin([int(x) for x in ids]),
            columns=meta_fields)
        mpdf = mt.to_pandas().sort_values("doc_id")
        order = np.argsort(ids)
        sids, ssc = ids[order], scores[order]
        pos = np.searchsorted(sids, mpdf["doc_id"].to_numpy(np.int64))
        mpdf.insert(1, "score", ssc[pos])
        return mpdf

    # scores / multi
    rows = []
    for eid, tree in items:
        ids, scores = ev.eval(tree, root=True)
        if k is not None and ids.size > k:
            order = np.lexsort((ids, -scores))[:k]
            ids, scores = ids[order], scores[order]
        if not ids.size:
            continue
        part = pd.DataFrame({"doc_id": ids, "score": scores})
        if mode == "multi":
            part["entity_id"] = eid
        rows.append(part)
    return pd.concat(rows, ignore_index=True) if rows else None


# ---------------------------------------------------------------------------
# driver-side planning + Spark wiring
# ---------------------------------------------------------------------------

# postings one scatter task must have to evaluate before the query
# fans out to another task: the fixed CPU of one Python task divided by
# the eval CPU per posting. scripts/scatter_fanout_sweep.py prints both
# and their ratio: 0.19-0.26 s / 110-145 ns = 1.7-2.0M postings over
# three runs on a 4-vCPU host (local[2]).
_POSTINGS_PER_TASK = 2_000_000


def _scatter_groups(parts: list[int], par: int,
                    est_postings: int) -> list[list[int]]:
    """Partition source parts into evaluation groups, one per task,
    sized by the query's work: ``ceil(est_postings / _POSTINGS_PER_TASK)``
    tasks, capped by the part count and ``par`` (defaultParallelism).

    A Python task is not cheap: each ``mapInPandas`` task costs
    0.19-0.26 s of CPU before it evaluates anything, even on a reused
    worker (4-vCPU host, pyspark 4.1.2). pyspark's ``setup_spark_files``
    calls ``importlib.invalidate_caches()`` on every task, and that makes
    each cached ``zipimporter`` re-read ``pyspark.zip``'s directory. So
    a small query runs as one task, and a query only fans out once each
    task carries as much eval work as that fixed cost. Round-robin
    keeps groups balanced in part count."""
    n = max(1, min(len(parts), par,
                   -(-int(est_postings) // _POSTINGS_PER_TASK)))
    groups: list[list[int]] = [[] for _ in range(n)]
    for i, p in enumerate(parts):
        groups[i % n].append(p)
    return groups


# term dictionaries below this total parquet size are cached on the
# driver once per executor: idf lookups and prefix/wildcard expansion
# then cost zero Spark jobs per query (ES keeps the terms dict in the
# node's heap/FS cache the same way). Larger dictionaries keep the
# distributed filtered-collect path.
_DICT_CACHE_BYTES = 64 * 1024 * 1024


class SearchExecutor:
    def __init__(self, spark: SparkSession, storage: IndexStorage,
                 allow_leading_wildcard: bool = False):
        self.spark = spark
        self.storage = storage
        self.meta = storage.read_meta()
        # reference settings.py:139 — leading wildcards scan the whole
        # term dictionary, off unless the deployment opts in
        self.allow_leading_wildcard = allow_leading_wildcard
        self._dict_cache: tuple | None | bool = False  # False=unprobed
        # scatter-path layout cache (same lifetime contract as the dict
        # cache: mutations construct fresh Engines); False = unprobed
        self._scatter: dict | None | bool = False
        self._last_scatter: dict | None = None  # plan-shape test hook
        # the postings DataFrame handle is immutable lineage — re-doing
        # spark.read.parquet per query re-lists the dataset (~0.4 s of
        # driver time on a 16-shard index). Same lifetime contract as
        # the dict cache: mutations construct fresh Engines.
        self._postings_df: DataFrame | None = None

    def _postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = self.storage.postings(self.spark)
        return self._postings_df

    def _term_dict(self) -> tuple | None:
        """(sorted term ndarray, df ndarray) driver cache, or None when
        the dictionary is too large (stays distributed). Loaded once
        per executor lifetime — mutations construct fresh Engines."""
        if self._dict_cache is False:
            import os as _os
            d = self.storage.term_stats_dir
            names = [n for n in self.storage.io.listdir(d)
                     if n.endswith(".parquet")]
            paths = [_os.path.join(d, n) for n in names]
            if sum(self.storage.io.file_size(p) for p in paths) \
                    > _DICT_CACHE_BYTES:
                self._dict_cache = None
            else:
                import pyarrow as pa
                tbl = pa.concat_tables(
                    [self.storage.io.read_parquet(p) for p in paths])
                terms = np.asarray(tbl.column("term").to_pylist(),
                                   dtype=object)
                dfs = tbl.column("df").to_numpy(zero_copy_only=False)
                order = np.argsort(terms, kind="mergesort")
                self._dict_cache = (terms[order],
                                    dfs[order].astype(np.int64))
        return self._dict_cache

    def _expand_prefixes(self, tree: Node) -> None:
        """Plan-time prefix rewrite against the term dictionary
        (ES query_string top-terms rewrite, capped expansions).

        ALL prefix leaves expand in ONE dictionary scan: the ranges OR
        into a single pushed filter, a per-prefix window keeps the top
        ``max_expansions`` by df, and one bounded collect distributes
        the result (≤ n_prefixes × max_expansions rows)."""
        prefixes = [l for l in tree.leaves()
                    if isinstance(l, PrefixLeaf) and l.expanded is None]
        if not prefixes:
            return
        cache = self._term_dict()
        if cache is not None:  # zero-job path: binary-search the dict
            tarr, dfarr = cache
            for leaf in prefixes:
                lo = np.searchsorted(tarr, leaf.prefix)
                hi = np.searchsorted(tarr, leaf.prefix + "￿")
                cand, cdf = tarr[lo:hi], dfarr[lo:hi]
                if FIELD_SEP not in leaf.prefix and cand.size:
                    m = np.array([FIELD_SEP not in t for t in cand])
                    cand, cdf = cand[m], cdf[m]
                # same ranking as the Spark path: df desc, term asc
                order = np.lexsort((cand, -cdf))[:leaf.max_expansions]
                leaf.expanded = [str(t) for t in cand[order]]
            return
        from pyspark.sql import Window
        ts = self.storage.term_stats(self.spark)
        cond = None
        for leaf in prefixes:
            c = ((F.col("term") >= leaf.prefix)
                 & (F.col("term") < leaf.prefix + "￿"))
            cond = c if cond is None else (cond | c)
        pf = self.spark.createDataFrame(
            [(i, l.prefix, FIELD_SEP in l.prefix)
             for i, l in enumerate(prefixes)],
            "pid int, prefix string, fielded boolean")
        w = Window.partitionBy("pid").orderBy(F.desc("df"), "term")
        cap = max(l.max_expansions for l in prefixes)
        rows = (ts.filter(cond)
                .join(F.broadcast(pf),
                      F.col("term").startswith(F.col("prefix"))
                      # an unfielded prefix only expands CONTENT terms,
                      # never field-prefixed/bigram dictionary entries
                      # ("pa*" must not match "path\x1f...")
                      & (F.col("fielded")
                         | ~F.col("term").contains(FIELD_SEP)))
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= cap)
                .select("pid", "term", "_rn").collect())
        by_pid: dict[int, list[tuple[int, str]]] = {}
        for r in rows:
            by_pid.setdefault(r["pid"], []).append((r["_rn"], r["term"]))
        for i, leaf in enumerate(prefixes):
            got = sorted(by_pid.get(i, []))[:leaf.max_expansions]
            leaf.expanded = [t for _, t in got]

    def _expand_wildcards(self, tree: Node) -> None:
        """Plan-time infix/leading wildcard rewrite (Q1): each pattern
        becomes a capped term-dictionary scan — the literal prefix
        before the first metacharacter pushes down as a range filter
        (same pruning as prefix rewrite), the full pattern applies as a
        regex, and a per-pattern window keeps the top ``max_expansions``
        by df. Leading wildcards (no literal prefix) would scan the
        whole dictionary and are gated behind ``allow_leading_wildcard``
        (reference query/base.py:62, settings.py:139)."""
        wilds = [l for l in tree.leaves()
                 if isinstance(l, WildcardLeaf) and l.expanded is None]
        if not wilds:
            return
        import re as _re
        from pyspark.sql import Window
        specs = []
        for leaf in wilds:
            pre = _re.split(r"[*?]", leaf.pattern, maxsplit=1)[0]
            if not pre and not self.allow_leading_wildcard:
                raise ValueError(
                    f"leading wildcard {leaf.pattern!r} requires "
                    "allow_leading_wildcard=true")
            rex = "^" + "".join(
                ".*" if s == "*" else "." if s == "?" else _re.escape(s)
                for s in _re.split(r"([*?])", leaf.pattern) if s) + "$"
            specs.append((pre, rex))
        cache = self._term_dict()
        if cache is not None:  # zero-job path over the cached dict
            tarr, dfarr = cache
            for leaf, (pre, rex) in zip(wilds, specs):
                lo = np.searchsorted(tarr, pre) if pre else 0
                hi = (np.searchsorted(tarr, pre + "￿") if pre
                      else tarr.size)
                cand, cdf = tarr[lo:hi], dfarr[lo:hi]
                if cand.size:
                    crex = _re.compile(rex)
                    m = np.array([bool(crex.match(t))
                                  and (FIELD_SEP in leaf.pattern
                                       or FIELD_SEP not in t)
                                  for t in cand])
                    cand, cdf = cand[m], cdf[m]
                order = np.lexsort((cand, -cdf))[:leaf.max_expansions]
                leaf.expanded = [str(t) for t in cand[order]]
            return
        ts = self.storage.term_stats(self.spark)
        cond = None
        for pre, rex in specs:
            c = F.col("term").rlike(rex)
            if pre:  # pushable dictionary range
                c = ((F.col("term") >= pre)
                     & (F.col("term") < pre + "￿") & c)
            cond = c if cond is None else (cond | c)
        pf = self.spark.createDataFrame(
            [(i, rex, FIELD_SEP in leaf.pattern)
             for i, (leaf, (_, rex)) in enumerate(zip(wilds, specs))],
            "pid int, rex string, fielded boolean")
        w = Window.partitionBy("pid").orderBy(F.desc("df"), "term")
        cap = max(l.max_expansions for l in wilds)
        rows = (ts.filter(cond)
                .join(F.broadcast(pf),
                      F.expr("term rlike rex")
                      # unfielded patterns match content terms only
                      & (F.col("fielded")
                         | ~F.col("term").contains(FIELD_SEP)))
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= cap)
                .select("pid", "term", "_rn").collect())
        by_pid: dict[int, list[tuple[int, str]]] = {}
        for r in rows:
            by_pid.setdefault(r["pid"], []).append((r["_rn"], r["term"]))
        for i, leaf in enumerate(wilds):
            got = sorted(by_pid.get(i, []))[:leaf.max_expansions]
            leaf.expanded = [t for _, t in got]

    def _collect_terms(self, tree: Node) -> list[str]:
        bigrams_on = bool(self.meta.get("bigrams"))
        terms: set[str] = set()
        for leaf in tree.leaves():
            if isinstance(leaf, TermLeaf):
                terms.add(leaf.term)
            elif isinstance(leaf, PhraseLeaf):
                terms.update(leaf.terms)
                if self._phrase_uses_bigrams(leaf, bigrams_on):
                    terms.update(
                        f"{BIGRAM_FIELD}{FIELD_SEP}{a} {b}"
                        for a, b in zip(leaf.terms, leaf.terms[1:]))
            elif isinstance(leaf, (PrefixLeaf, WildcardLeaf)):
                terms.update(leaf.expanded or [])
        return sorted(terms)

    @staticmethod
    def _phrase_uses_bigrams(leaf: PhraseLeaf, bigrams_on: bool) -> bool:
        return (bigrams_on and leaf.slop == 0 and len(leaf.terms) >= 2
                and all(FIELD_SEP not in t for t in leaf.terms))

    def _need_positions(self, trees: list[Node]) -> bool:
        bigrams_on = bool(self.meta.get("bigrams"))
        return any(
            isinstance(l, PhraseLeaf)
            and not (self._phrase_uses_bigrams(l, bigrams_on)
                     and len(l.terms) == 2)
            for t in trees for l in t.leaves())

    def shard_col(self, doc_id_col):
        S = self.meta["num_shards"]
        return F.pmod(F.shiftright(doc_id_col, DOC_ID_PART_SHIFT),
                      F.lit(S)).cast("int")

    def _prepare(self, trees: list[Node], k: int | None):
        """Shared driver-side planning: prefix expansion, term stats →
        idf, pruning-soundness guard, postings scan with term filter +
        positions-column pruning. → (terms, ctx dict, postings)."""
        terms, ctx, need_pos, cols, _ = self._plan_ctx(trees, k)
        if not terms:
            return terms, None, None
        postings = (self._postings()
                    .select(*cols)
                    .filter(F.col("term").isin(terms)))
        if not need_pos:
            postings = postings.withColumn("pos_payload",
                                           F.lit(b"").cast("binary"))
        return terms, ctx, postings

    def _plan_ctx(self, trees: list[Node], k: int | None):
        """Driver-side planning shared by the Catalyst and scatter
        paths → (terms, ctx, need_pos, scan column list, est_postings).

        ``est_postings`` is the sum of df over the resolved terms (the
        union across ``trees``): the query's posting volume, read from
        the same dictionary lookup that yields idf — no extra job."""
        for t in trees:
            self._expand_prefixes(t)
            self._expand_wildcards(t)
        terms = sorted(set().union(
            *(self._collect_terms(t) for t in trees)))
        if not terms:
            return terms, None, False, [], 0

        n_docs = float(self.meta["n_docs"])
        avgdl = float(self.meta["avgdl"])
        avgdl_by_field = dict(self.meta.get("avgdl_by_field")
                              or {"content": avgdl})
        k1, b = float(self.meta["k1"]), float(self.meta["b"])
        cache = self._term_dict()
        if cache is not None:
            tarr, dfarr = cache
            qt = np.asarray(terms, dtype=object)
            pos = np.searchsorted(tarr, qt)
            np.minimum(pos, max(tarr.size - 1, 0), out=pos)
            hit = tarr.size > 0 and (tarr[pos] == qt)
            dfs = {t: int(dfarr[p])
                   for t, p, h in zip(terms, pos, np.atleast_1d(hit))
                   if h}
        else:
            stats = (self.storage.term_stats(self.spark)
                     .filter(F.col("term").isin(terms)).collect())
            dfs = {r["term"]: int(r["df"]) for r in stats}
        idf = {t: float(bm25_idf(float(d), n_docs)) for t, d in dfs.items()}

        # column pruning: positions are the fattest payload — only
        # phrase queries read them (the parquet scan skips the column
        # entirely otherwise; verified in tests/test_plans.py). With
        # bigram shingles a 2-term slop-0 phrase needs NO positions at
        # all (the bigram tf IS the phrase tf).
        bigrams_on = bool(self.meta.get("bigrams"))
        need_pos = self._need_positions(trees)
        # sum_tf intentionally absent: the evaluator never reads it
        cols = ["term", "shard", "first_doc", "last_doc", "doc_count",
                "max_tf", "min_dl", "docs_payload",
                "tfs_payload", "dls_payload"]
        if need_pos:
            cols.append("pos_payload")
        ctx = {"idf": idf, "k_prune": k,
               "k1": k1, "b": b, "avgdl_by_field": avgdl_by_field,
               "b_by_field": dict(self.meta.get("b_by_field") or {}),
               "bigrams": bigrams_on}
        return terms, ctx, need_pos, cols, sum(dfs.values())

    @staticmethod
    def _attach_bounds(pdf: pd.DataFrame, ctx: dict) -> pd.DataFrame:
        """Impact upper bounds computed LIVE from each block's stored
        (max_tf, min_dl) against the CURRENT per-field avgdl: true
        under any collection stats, so block-max pruning never needs an
        encode-time-avgdl guard (appends/deletes can't invalidate it).
        max_tf and min_dl may come from different docs, so the bound is
        slightly looser than the exact per-block max — pruning skips a
        little less, results stay exact either way."""
        if pdf.empty:
            return pdf
        avg_map = ctx["avgdl_by_field"]
        tfm = pdf["max_tf"].to_numpy(np.float64)
        dlm = pdf["min_dl"].to_numpy(np.float64)
        avg = pdf["term"].map(
            lambda t: avg_map.get(field_of_term(t), 1.0)
        ).to_numpy(np.float64)
        b_map = ctx.get("b_by_field") or {}
        if b_map:
            # per-field b: the bound must use the SAME b as scoring or
            # pruning loses soundness for weakened (b<B) fields
            bs = pdf["term"].map(
                lambda t: b_map.get(field_of_term(t), ctx["b"])
            ).to_numpy(np.float64)
        else:
            bs = ctx["b"]
        norm = ctx["k1"] * (1.0 - bs + bs * dlm
                            / np.maximum(avg, 1e-12))
        pdf = pdf.copy()
        pdf["block_max_tfnorm"] = tfm / (tfm + norm)
        return pdf

    # -- scatter fast path ---------------------------------------------------
    # One single-stage Spark job: tasks read their own slice of the
    # index (postings + doc_meta + tombstones) directly through
    # pyarrow against the SAME files Spark would scan, evaluate with
    # the SAME _ShardEval kernel, and (for top-k) hydrate in-task.
    # Replaces scan → Exchange → grouped-map (→ broadcast-join) with
    # zero exchanges; measured 2-2.5× lower per-query latency, and at
    # cluster scale it is the ES execution shape (one task per index
    # slice, no shuffle of postings or the filter set).
    #
    # Correctness lever: every SPIMI source partition (doc_meta/part=K
    # ↔ postings/shard=K%S/part=K) is doc-disjoint and carries ALL
    # terms for its docs, so any grouping of WHOLE source partitions
    # is a valid evaluation group — per-group top-k unions to a
    # superset of the global top-k, scores are exact per doc (global
    # idf/avgdl live in ctx). The path only engages when the layout
    # invariant (part=<int>.parquet naming) holds; compacted/rewritten
    # indexes fall back to the legacy cogrouped plan.

    def _scatter_layout(self) -> dict | None:
        if self._scatter is not False:
            return self._scatter
        io = self.storage.io
        S = int(self.meta.get("num_shards") or 0)
        parts: list[int] = []
        ok = S > 0
        for n in io.listdir(self.storage.doc_meta_dir):
            if not n.endswith(".parquet"):
                continue
            m = re.fullmatch(r"part=(\d+)\.parquet", n)
            if not m:
                ok = False
                break
            parts.append(int(m.group(1)))
        if not ok or not parts:
            self._scatter = None
            return None
        post: dict[int, str] = {}
        for s in range(S):
            sd = f"{self.storage.postings_dir}/shard={s}"
            for n in io.listdir(sd):
                m = re.fullmatch(r"part=(\d+)\.parquet", n)
                if m:
                    post[int(m.group(1))] = io.path(f"{sd}/{n}")
        from ..index.mutate import tombstones_dir
        td = tombstones_dir(self.storage)
        tombs = [io.path(f"{td}/{n}") for n in io.listdir(td)
                 if n.endswith(".parquet")]
        self._scatter = {
            "parts": sorted(parts),
            "dm": {p: io.path(f"{self.storage.doc_meta_dir}"
                              f"/part={p}.parquet") for p in parts},
            "post": post,
            "tombs": tombs,
            "fs": io.fs,
        }
        return self._scatter

    def scatter_ok(self) -> bool:
        return self._scatter_layout() is not None

    def _scatter_plan(self, trees: list[Node], k: int | None):
        """Driver-side scatter planning → (terms, ctx, need_pos, cols,
        est_postings, groups). The one place the fan-out is decided:
        ``_scatter_exec`` runs it and ``Engine.explain`` reports it."""
        terms, ctx, need_pos, cols, est = self._plan_ctx(trees, k)
        lay = self._scatter_layout()
        groups = (_scatter_groups(
            lay["parts"], self.spark.sparkContext.defaultParallelism, est)
            if terms and lay is not None else [])
        return terms, ctx, need_pos, cols, est, groups

    def _scatter_exec(self, items: list[tuple], k: int | None,
                      spec: MetaSpec | None, mode: str,
                      out_schema: str,
                      meta_fields: list[str] | None = None,
                      facet_fields: list[str] | None = None
                      ) -> DataFrame:
        """Run the scatter job. ``items`` = [(entity_id|None, tree)].

        ``spec`` semantics: None → raw postings evaluation (matches the
        legacy ``filter_df=None``); a MetaSpec (possibly with zero
        conjuncts) → restrict to LIVE docs passing the conjuncts
        (tombstones subtracted), matching ``filter_df=base_meta``.
        Modes: scores | multi | hydrate | facet | count.
        """
        lay = self._scatter_layout()
        terms, ctx, need_pos, cols, _, groups = self._scatter_plan(
            [t for _, t in items], k)
        if not terms or (spec is not None and spec.match_none):
            return self.spark.createDataFrame([], out_schema)
        fn = self._scatter_fn(
            groups, lay["fs"], lay["dm"], lay["post"],
            lay["tombs"] if spec is not None else [],
            items, ctx, terms, cols, need_pos, k, spec, mode,
            meta_fields, facet_fields)
        # record the planned read set for plan-shape tests (the pyarrow
        # reads are invisible to Catalyst's explain)
        self._last_scatter = {"cols": list(cols), "need_pos": need_pos,
                              "mode": mode, "n_groups": len(groups),
                              "terms": list(terms)}
        return (self.spark.range(0, len(groups), 1, len(groups))
                .mapInPandas(fn, out_schema))

    @staticmethod
    def _scatter_fn(groups, fs, dm_paths, post_paths, tomb_paths,
                    items, ctx, terms, cols, need_pos, k,
                    spec: MetaSpec | None, mode: str,
                    meta_fields, facet_fields):
        read_cols = [c for c in cols if c not in ("shard", "pos_payload")]
        if need_pos:
            read_cols.append("pos_payload")
        term_list = [str(t) for t in terms]
        spec_cols = spec.cols() if spec is not None else []
        want_allowed = spec is not None and (
            bool(spec_cols) or bool(tomb_paths))
        # facet mode always needs the meta read (values of matched docs)
        meta_read_cols = None
        if mode == "facet":
            meta_read_cols = ["doc_id"] + sorted(
                set(spec_cols) | set(facet_fields))
        elif want_allowed:
            meta_read_cols = ["doc_id"] + spec_cols

        def fn(it):
            import pyarrow.dataset as ds
            tomb = None
            if tomb_paths:
                tt = ds.dataset(tomb_paths, filesystem=fs).to_table(
                    columns=["doc_id"])
                tomb = np.unique(tt.column("doc_id").to_numpy(
                    zero_copy_only=False).astype(np.int64))
            for pdf_in in it:
                for gid in pdf_in["id"]:
                    out = _scatter_eval_group(
                        groups[int(gid)], fs, dm_paths, post_paths,
                        tomb, items, ctx, term_list, read_cols,
                        need_pos, k, spec, mode, meta_fields,
                        facet_fields, meta_read_cols)
                    if out is not None:
                        yield out
        return fn

    def scatter_topk_hydrated(self, tree: Node, k: int,
                              spec: MetaSpec | None,
                              meta_schema: list) -> DataFrame:
        """Per-group top-k, hydrated in-task from the group's own
        doc_meta files → DataFrame(doc_id, score, …meta cols), ≤ k
        rows per group, unsorted (caller applies the global cut)."""
        fields = [f.name for f in meta_schema]
        out_schema = "doc_id long, score double, " + ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in meta_schema if f.name != "doc_id")
        return self._scatter_exec([(None, tree)], k, spec, "hydrate",
                                  out_schema, meta_fields=fields)

    def scatter_count(self, tree: Node, spec: MetaSpec | None) -> int:
        df = self._scatter_exec([(None, tree)], None, spec, "count",
                                "n long")
        row = df.agg(F.sum("n").alias("n")).collect()[0]
        return int(row["n"] or 0)

    def scatter_facet_counts(self, tree: Node, fields: list[str],
                             spec: MetaSpec | None) -> DataFrame:
        res = self._scatter_exec(
            [(None, tree)], None, spec, "facet",
            "field string, value string, count long",
            facet_fields=list(fields))
        return (res.groupBy("field", "value")
                .agg(F.sum("count").alias("count")))

    def run(self, tree: Node, k: int | None,
            filter_df: DataFrame | None = None,
            spec: MetaSpec | None = None) -> DataFrame:
        """Execute a scored query → DataFrame(doc_id, score).

        ``k=None`` returns ALL matching docs (facet/count path);
        otherwise each shard emits ≤ k rows and the caller applies the
        global orderBy/limit (the gather phase is shards × k rows).
        ``filter_df`` is a DataFrame with a ``doc_id`` column; it is
        cogrouped per shard (stays distributed). When no filter_df is
        given (or the engine translated it to a ``spec``) and the
        layout invariant holds, execution takes the zero-exchange
        scatter path instead of the Catalyst scan+cogroup plan.
        """
        if filter_df is None and self.scatter_ok():
            return self._scatter_exec([(None, tree)], k, spec,
                                      "scores", RESULT_SCHEMA)
        terms, ctx, postings = self._prepare([tree], k)
        if not terms:
            return self.spark.createDataFrame([], RESULT_SCHEMA)

        def make_eval(blocks_pdf: pd.DataFrame,
                      allowed: np.ndarray | None) -> pd.DataFrame:
            if blocks_pdf.empty:
                return pd.DataFrame({"doc_id": pd.Series(dtype=np.int64),
                                     "score": pd.Series(dtype=np.float64)})
            blocks_pdf = SearchExecutor._attach_bounds(blocks_pdf, ctx)
            by_term = {
                t: g.sort_values(["first_doc"])
                for t, g in blocks_pdf.groupby("term", sort=False)}
            ev = _ShardEval(by_term, ctx["idf"], ctx["k_prune"], allowed,
                            ctx["k1"], ctx["b"], ctx["avgdl_by_field"],
                            bigrams=ctx["bigrams"],
                            b_by_field=ctx["b_by_field"])
            ids, scores = ev.eval(tree, root=True)
            if k is not None and ids.size > k:
                # per-shard top-k: exact selection incl. doc_id tiebreak
                order = np.lexsort((ids, -scores))[:k]
                ids, scores = ids[order], scores[order]
            return pd.DataFrame({"doc_id": ids, "score": scores})

        if filter_df is not None:
            fdf = (filter_df.select("doc_id")
                   .withColumn("shard", self.shard_col(F.col("doc_id"))))

            def cg(pkey, posting_pdf: pd.DataFrame,
                   allow_pdf: pd.DataFrame) -> pd.DataFrame:
                allowed = np.sort(allow_pdf["doc_id"].to_numpy(np.int64))
                if allowed.size == 0 or posting_pdf.empty:
                    return pd.DataFrame({
                        "doc_id": pd.Series(dtype=np.int64),
                        "score": pd.Series(dtype=np.float64)})
                return make_eval(posting_pdf, allowed)

            res = (postings.groupBy("shard")
                   .cogroup(fdf.groupBy("shard"))
                   .applyInPandas(lambda key, l, r: cg(key, l, r),
                                  RESULT_SCHEMA))
        else:
            res = postings.groupBy("shard").applyInPandas(
                lambda key, pdf: make_eval(pdf, None), RESULT_SCHEMA)
        return res

    def facet_counts(self, tree: Node, fields: list[str],
                     meta_df: DataFrame) -> DataFrame:
        """One-pass terms-facet partials: cogroup postings with the
        (projected) doc_meta per shard, evaluate the query inside the
        shard, count facet values of the matching docs there, and emit
        only (field, value, count) partials — the match set never
        shuffles and doc_meta never joins on doc_id. The meta side
        doubles as the filter (tombstones/ACL already subtracted).
        → DataFrame(field, value, count) summed across shards."""
        terms, ctx, postings = self._prepare([tree], None)
        out_schema = "field string, value string, count long"
        if not terms:
            return self.spark.createDataFrame([], out_schema)
        fdf = (meta_df.select("doc_id", *fields)
               .withColumn("shard", self.shard_col(F.col("doc_id"))))

        def cg(posting_pdf: pd.DataFrame,
               meta_pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"field": pd.Series(dtype=object),
                                  "value": pd.Series(dtype=object),
                                  "count": pd.Series(dtype=np.int64)})
            if posting_pdf.empty or meta_pdf.empty:
                return empty
            posting_pdf = SearchExecutor._attach_bounds(posting_pdf, ctx)
            by_term = {
                t: g.sort_values(["first_doc"])
                for t, g in posting_pdf.groupby("term", sort=False)}
            m_ids = meta_pdf["doc_id"].to_numpy(np.int64)
            order = np.argsort(m_ids)
            allowed = m_ids[order]
            ev = _ShardEval(by_term, ctx["idf"], None, allowed,
                            ctx["k1"], ctx["b"], ctx["avgdl_by_field"],
                            bigrams=ctx["bigrams"],
                            b_by_field=ctx["b_by_field"])
            ids, _ = ev.eval(tree, root=True)
            if ids.size == 0:
                return empty
            pos = np.searchsorted(allowed, ids)
            parts = []
            for f in fields:
                vals = meta_pdf[f].to_numpy()[order][pos]
                vc = pd.Series(vals).value_counts(dropna=True)
                parts.append(pd.DataFrame({
                    "field": f, "value": vc.index.astype(object),
                    "count": vc.to_numpy(np.int64)}))
            return pd.concat(parts, ignore_index=True)

        res = (postings.groupBy("shard")
               .cogroup(fdf.groupBy("shard"))
               .applyInPandas(lambda key, l, r: cg(l, r), out_schema))
        return (res.groupBy("field", "value")
                .agg(F.sum("count").alias("count")))

    def run_multi(self, trees: dict[str, Node],
                  k: int | None,
                  filter_df: DataFrame | None = None,
                  spec: MetaSpec | None = None) -> DataFrame:
        """Evaluate MANY query trees in ONE per-shard pass with
        attribution → DataFrame(doc_id, score, entity_id).

        One postings scan (union of all trees' terms), one grouped-map
        job; each shard emits ≤ k rows PER tree. The per-term decode
        cache is shared across trees inside a shard, so entities with
        overlapping vocabularies decode each term once. This replaces
        the per-entity plan-union shape (10k entities = 10k unioned
        jobs would explode the driver/planner; reference caps mention
        sources at 10k names, query/mentions.py:76-130)."""
        items = sorted(trees.items())
        if filter_df is None and self.scatter_ok():
            return self._scatter_exec(
                [(str(eid), t) for eid, t in items], k, spec, "multi",
                RESULT_SCHEMA + ", entity_id string")
        terms, ctx, postings = self._prepare([t for _, t in items], k)
        schema = RESULT_SCHEMA + ", entity_id string"
        if not terms:
            return self.spark.createDataFrame([], schema)

        def make_eval(blocks_pdf: pd.DataFrame,
                      allowed: np.ndarray | None) -> pd.DataFrame:
            empty = pd.DataFrame({
                "doc_id": pd.Series(dtype=np.int64),
                "score": pd.Series(dtype=np.float64),
                "entity_id": pd.Series(dtype=object)})
            if blocks_pdf.empty:
                return empty
            blocks_pdf = SearchExecutor._attach_bounds(blocks_pdf, ctx)
            by_term = {
                t: g.sort_values(["first_doc"])
                for t, g in blocks_pdf.groupby("term", sort=False)}
            ev = _ShardEval(by_term, ctx["idf"], ctx["k_prune"], allowed,
                            ctx["k1"], ctx["b"], ctx["avgdl_by_field"],
                            bigrams=ctx["bigrams"],
                            b_by_field=ctx["b_by_field"])
            parts = []
            for eid, tree in items:
                ids, scores = ev.eval(tree, root=True)
                if k is not None and ids.size > k:
                    order = np.lexsort((ids, -scores))[:k]
                    ids, scores = ids[order], scores[order]
                if ids.size:
                    parts.append(pd.DataFrame({
                        "doc_id": ids, "score": scores,
                        "entity_id": eid}))
            return pd.concat(parts, ignore_index=True) if parts else empty

        if filter_df is not None:
            fdf = (filter_df.select("doc_id")
                   .withColumn("shard", self.shard_col(F.col("doc_id"))))

            def cg(posting_pdf, allow_pdf):
                allowed = np.sort(allow_pdf["doc_id"].to_numpy(np.int64))
                if allowed.size == 0:
                    return make_eval(posting_pdf.iloc[0:0], None)
                return make_eval(posting_pdf, allowed)

            return (postings.groupBy("shard")
                    .cogroup(fdf.groupBy("shard"))
                    .applyInPandas(lambda key, l, r: cg(l, r), schema))
        return postings.groupBy("shard").applyInPandas(
            lambda key, pdf: make_eval(pdf, None), schema)

    def topk(self, tree: Node, k: int,
             filter_df: DataFrame | None = None) -> DataFrame:
        """Global top-k: per-shard heaps → tiny global sort-limit."""
        res = self.run(tree, k, filter_df)
        return res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
