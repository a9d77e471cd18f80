"""Distributed top-k BM25 execution over the postings table.

The reference delegates retrieval to ES/Lucene (WAND + impacts,
implicit; /root/reference/openaleph_search/query/base.py:515-533 just
calls ``es.search``).  Here every query runs through ONE physical
strategy, the scatter:

  scatter:  source parts split into evaluation groups sized by the
            query's posting volume; each group reads its postings
            (term-filtered) and, when restricting or faceting, its own
            doc_meta rows, and evaluates — in the driver when the work
            fits one group, else one task per group (≈ one ES shard
            search)
  gather:   each group emits ≤ k rows → one pandas merge and global
            cut in the driver (tiny: groups × k rows)

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

Filters (auth/dataset/lang/range … predicates) are pushed into the
evaluator: each group applies a ``MetaSpec`` (query/filters.py) to the
doc_meta rows it reads itself and subtracts tombstones, so the filter
set is never shuffled or collected to the driver.
"""
from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..index.build import BIGRAM_FIELD, FIELD_SEP, field_of_term
from ..index.codec import (bm25_idf, bm25_tfnorm, decode_positions,
                           varint_decode)
from ..index.mutate import _read_dead, _source_parts, _tombstone_paths
from ..index.storage import PART_FILE, IndexStorage
from .filters import MetaSpec
from .ir import (Bool, DisMax, MatchAll, Node, PhraseLeaf, PrefixLeaf,
                 TermLeaf, WildcardLeaf)

RESULT_TYPE = StructType([StructField("doc_id", LongType()),
                          StructField("score", DoubleType())])
MULTI_TYPE = StructType([*RESULT_TYPE.fields,
                         StructField("entity_id", StringType())])


# the final cut of gathered scatter output runs here in pandas: a Spark
# sort on a LocalRelation would still cost a job per query
def top_k(pdf: pd.DataFrame | None, k: int,
          by: str | None = None) -> pd.DataFrame | None:
    """Global top-k of gathered per-group hits by (score desc, doc_id
    asc); per ``by`` value (one query of a batch) when given."""
    if pdf is None:
        return None
    if by is None:
        return pdf.sort_values(["score", "doc_id"],
                               ascending=[False, True]).head(k)
    return (pdf.sort_values([by, "score", "doc_id"],
                            ascending=[True, False, True])
            .groupby(by, sort=False).head(k))


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
                # fetched for phrases — see _collect_terms)
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
    """Evaluate one scatter group (a set of doc-disjoint source parts),
    in a task or in the driver: pyarrow-read the group's postings
    (term-filtered) — and, when restricting or faceting, its doc_meta
    slice, kept where ``spec.mask`` holds and the doc is live — then run
    the _ShardEval kernel. Returns one pandas frame (mode-shaped) or
    None."""
    import pyarrow as pa
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
        keep = spec.mask(mt)
        if tomb is not None:
            keep &= ~_in_sorted(mt.column("doc_id").to_numpy(), tomb)
        mt = mt.filter(pa.array(keep)).select(
            ["doc_id", *(facet_fields or [])]).sort_by("doc_id")
        allowed = mt.column("doc_id").to_numpy()
        if allowed.size == 0:
            return None
        meta_pdf = mt.to_pandas()

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

    # scores | multi | topk: each tree's top-k (every match for k=None)
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
    if not rows:
        return None
    out = pd.concat(rows, ignore_index=True)
    if meta_fields:
        # hydrate in-group: the hits' doc_meta rows live in this group's
        # own doc_meta files
        mt = ds.dataset(gdm, filesystem=fs).to_table(
            filter=ds.field("doc_id").isin(
                np.unique(out["doc_id"].to_numpy()).tolist()),
            columns=meta_fields)
        out = out.merge(mt.to_pandas(), on="doc_id")
    return out


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
    """Partition source parts into evaluation groups, sized by the
    query's work: ``ceil(est_postings / _POSTINGS_PER_TASK)`` groups,
    capped by the part count and ``par`` (defaultParallelism).

    A Python task is not cheap: each ``mapInPandas`` task costs
    0.19-0.26 s of CPU before it evaluates anything, even on a reused
    worker (4-vCPU host, pyspark 4.1.2). pyspark's ``setup_spark_files``
    calls ``importlib.invalidate_caches()`` on every task, and that makes
    each cached ``zipimporter`` re-read ``pyspark.zip``'s directory. So
    a query only fans out once each task carries as much eval work as
    that fixed cost. A plan whose work fits one group has no
    parallelism to buy: a bounded mode evaluates it in the driver, with
    no job and no task (``scatter_tasks``); otherwise each group runs
    as one task. Round-robin keeps groups balanced in part count."""
    n = max(1, min(len(parts), par,
                   -(-int(est_postings) // _POSTINGS_PER_TASK)))
    groups: list[list[int]] = [[] for _ in range(n)]
    for i, p in enumerate(parts):
        groups[i % n].append(p)
    return groups


def scatter_gathers(mode: str, k: int | None) -> bool:
    """Whether a scatter mode's output is bounded, so it is gathered to
    the driver: count (≤ groups rows), facet (≤ groups × distinct
    values), topk and multi with a k (≤ groups × trees × k). Scores
    never gather: with k=None (full match, pure-NOT, export) they are
    unbounded, so they stay a Spark DataFrame."""
    return mode in ("count", "facet") or (
        mode in ("topk", "multi") and k is not None)


def scatter_tasks(mode: str, k: int | None, est_postings: int,
                  n_groups: int) -> int:
    """Spark tasks a scatter plan runs: 0 when it evaluates in the
    driver — a bounded output whose work fits one group, where one task
    would buy no parallelism — else one task per group. A plan held to
    one group only by the part count or defaultParallelism keeps its
    task, so the driver never evaluates more than _POSTINGS_PER_TASK."""
    if (n_groups == 1 and est_postings <= _POSTINGS_PER_TASK
            and scatter_gathers(mode, k)):
        return 0
    return n_groups


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
        # scatter layout cache (same lifetime contract as the dict
        # cache: mutations construct fresh Engines); None = unprobed
        self._scatter: dict | None = None

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

    def _plan_ctx(self, trees: list[Node], k: int | None):
        """Driver-side planning → (terms, ctx, need_pos, postings read
        columns, est_postings).

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
        # phrase queries read them (the scatter read skips the column
        # entirely otherwise; verified in tests/test_plans.py). With
        # bigram shingles a 2-term slop-0 phrase needs NO positions at
        # all (the bigram tf IS the phrase tf).
        bigrams_on = bool(self.meta.get("bigrams"))
        need_pos = self._need_positions(trees)
        # sum_tf intentionally absent: the evaluator never reads it
        cols = ["term", "first_doc", "last_doc", "doc_count",
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

    # -- the scatter ---------------------------------------------------------
    # Each evaluation group reads its own slice of the index (postings
    # + doc_meta + tombstones) directly through pyarrow, evaluates with
    # the _ShardEval kernel, and (for top-k) hydrates from its own
    # doc_meta files.
    # Where a group runs: a bounded plan whose work fits one group runs
    # in the driver (zero Spark jobs), ≥2 groups run as one
    # single-stage job (Range → MapInPandas, no exchange, one task per
    # group ≈ one ES shard search) whose tasks send their frames back.
    # The gather is a pandas merge of those frames (≤ groups × k rows);
    # the final cut runs there and the result is wrapped as a
    # LocalRelation, so reading it runs no job either. Unbounded scores
    # (k=None) stay a DataFrame.
    #
    # Correctness lever: every SPIMI source partition (doc_meta/part=K
    # ↔ postings/shard=K%S/part=K) is doc-disjoint and carries ALL
    # terms for its docs, so any grouping of WHOLE source partitions
    # is a valid evaluation group — per-group top-k unions to a
    # superset of the global top-k, scores are exact per doc (global
    # idf/avgdl live in ctx). Every writer keeps the part=<int>.parquet
    # naming (compact() rewrites parts in place). A doc_meta data file
    # that breaks it raises ValueError: the index must be rebuilt. An
    # empty index has no parts, and every read of it is empty.

    def _scatter_layout(self) -> dict:
        if self._scatter is None:
            io = self.storage.io
            parts = _source_parts(self.storage)
            post: dict[int, str] = {}
            for s in range(int(self.meta.get("num_shards") or 0)):
                sd = f"{self.storage.postings_dir}/shard={s}"
                for n in io.listdir(sd):
                    m = PART_FILE.fullmatch(n)
                    if m:
                        post[int(m.group(1))] = io.path(f"{sd}/{n}")
            self._scatter = {
                "parts": parts,
                "dm": {p: io.path(f"{self.storage.doc_meta_dir}"
                                  f"/part={p}.parquet") for p in parts},
                "post": post,
                "tombs": _tombstone_paths(self.storage),
                "fs": io.fs,
            }
        return self._scatter

    def scatter_ok(self) -> bool:
        """True for every index that opens (a layout the scatter cannot
        read raises ValueError instead): the scatter is the only query
        path."""
        self._scatter_layout()
        return True

    def _scatter_plan(self, trees: list[Node], k: int | None):
        """Driver-side scatter planning → (terms, ctx, need_pos,
        read_cols, est_postings, groups). The one place the fan-out and
        the projected postings columns are decided: ``_scatter_exec``
        runs it and ``Engine.explain`` reports it."""
        terms, ctx, need_pos, read_cols, est = self._plan_ctx(trees, k)
        parts = self._scatter_layout()["parts"]
        groups = (_scatter_groups(
            parts, self.spark.sparkContext.defaultParallelism, est)
            if terms and parts else [])
        return terms, ctx, need_pos, read_cols, est, groups

    def _scatter_exec(self, items: list[tuple], k: int | None,
                      spec: MetaSpec | None, mode: str,
                      out_schema: StructType | None = None,
                      meta_fields: list[str] | None = None,
                      facet_fields: list[str] | None = None):
        """Run the scatter. ``items`` = [(entity_id|None, tree)].

        ``spec`` semantics: None → raw postings evaluation, tombstoned
        docs included (for callers that anti-join the result against
        live doc_meta); a MetaSpec (possibly with zero conjuncts) →
        restrict to LIVE docs passing it (tombstones subtracted).
        Modes: scores | multi | topk | facet | count; ``meta_fields``
        hydrates each group's hits from its own doc_meta files.

        A bounded mode (``scatter_gathers``) returns the per-group
        frames gathered into one pandas frame, or None when nothing
        matched: a plan whose work fits one group evaluates in the
        driver with no Spark job (``scatter_tasks``), a larger one runs
        one job whose tasks send their frames back. ``scores`` returns
        the job's DataFrame of ``out_schema``: with ``k=None`` its
        output is unbounded, so it stays in Spark.
        """
        lay = self._scatter_layout()
        terms, ctx, need_pos, read_cols, est, groups = self._scatter_plan(
            [t for _, t in items], k)
        gather = scatter_gathers(mode, k)
        if not groups or (spec is not None and spec.match_none):
            return None if gather else self.spark.createDataFrame(
                [], out_schema)
        run = self._scatter_fn(
            groups, lay["fs"], lay["dm"], lay["post"],
            lay["tombs"] if spec is not None else [],
            items, ctx, terms, read_cols, need_pos, k, spec, mode,
            meta_fields, facet_fields)
        if not gather:
            return self._scatter_job(len(groups), run, out_schema)
        if scatter_tasks(mode, k, est, len(groups)) == 0:
            frames = list(run([0]))
        else:
            rows = self._scatter_job(
                len(groups),
                lambda gids: (pd.DataFrame({"frame": [pickle.dumps(f)]})
                              for f in run(gids)),
                "frame binary").collect()
            frames = [pickle.loads(r["frame"]) for r in rows]
        return pd.concat(frames, ignore_index=True) if frames else None

    def _scatter_job(self, n: int, run, out_schema) -> DataFrame:
        """One single-stage job of ``n`` tasks, task i running
        ``run([i])``: Range → MapInPandas, no exchange."""
        return (self.spark.range(0, n, 1, n)
                .mapInPandas(lambda it: (out for pdf in it
                                         for out in run(pdf["id"])),
                             out_schema))

    @staticmethod
    def _scatter_fn(groups, fs, dm_paths, post_paths, tomb_paths,
                    items, ctx, terms, read_cols, need_pos, k,
                    spec: MetaSpec | None, mode: str,
                    meta_fields, facet_fields):
        """→ ``run(group ids)``, yielding each group's non-empty frame;
        the same closure runs in the driver or inside a task."""
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

        def run(gids):
            tomb = None
            if tomb_paths:
                tomb = _read_dead(fs, tomb_paths)
            for gid in gids:
                out = _scatter_eval_group(
                    groups[int(gid)], fs, dm_paths, post_paths,
                    tomb, items, ctx, term_list, read_cols,
                    need_pos, k, spec, mode, meta_fields,
                    facet_fields, meta_read_cols)
                if out is not None:
                    yield out
        return run

    def local_frame(self, pdf: pd.DataFrame | None,
                    schema: StructType) -> DataFrame:
        """A bounded driver-side result (``None`` = no rows) as a
        DataFrame over a LocalRelation: collect, limit, filter and
        select on it run no Spark job. Built from an Arrow table, so
        neither ``arrow.pyspark.enabled`` nor an empty result changes
        that; the conversion treats timestamps like ``mapInPandas``
        output does."""
        import pyarrow as pa
        if pdf is None:
            pdf = pd.DataFrame(columns=schema.names)
        return self.spark.createDataFrame(
            pa.Table.from_pandas(pdf[schema.names], preserve_index=False),
            schema)

    def scatter_topk_hydrated(self, tree: Node, k: int,
                              spec: MetaSpec | None,
                              meta_fields: list[str]
                              ) -> pd.DataFrame | None:
        """Per-group top-k, hydrated from the group's own doc_meta
        files → pandas (doc_id, score, …meta_fields), ≤ k rows per
        group, unsorted (caller applies the global cut)."""
        return self._scatter_exec([(None, tree)], k, spec, "topk",
                                  meta_fields=meta_fields)

    def scatter_multi_hydrated(self, trees: dict[str, Node], k: int,
                               spec: MetaSpec | None,
                               meta_fields: list[str]
                               ) -> pd.DataFrame | None:
        """Per-group, per-tree top-k, hydrated like
        ``scatter_topk_hydrated`` → pandas (doc_id, score, entity_id,
        …meta_fields), ≤ k rows per tree and group, unsorted."""
        return self._scatter_exec(
            [(str(eid), t) for eid, t in sorted(trees.items())], k, spec,
            "multi", meta_fields=meta_fields)

    def scatter_count(self, tree: Node, spec: MetaSpec | None) -> int:
        out = self._scatter_exec([(None, tree)], None, spec, "count")
        return 0 if out is None else int(out["n"].sum())

    def scatter_facets(self, tree: Node, fields: list[str],
                       spec: MetaSpec) -> pd.DataFrame | None:
        """Per-group (field, value, count) partials → one pandas frame,
        not yet summed across groups (None when nothing matched)."""
        return self._scatter_exec([(None, tree)], None, spec, "facet",
                                  facet_fields=list(fields))

    def run(self, tree: Node, k: int | None,
            spec: MetaSpec | None = None) -> DataFrame:
        """Execute a scored query → DataFrame(doc_id, score): each
        group's ≤ k rows (every match for ``k=None``), unsorted — the
        caller applies the global cut. Its output is unbounded, so it
        stays a Spark DataFrame (one single-stage job)."""
        return self._scatter_exec([(None, tree)], k, spec, "scores",
                                  RESULT_TYPE)

    def run_multi(self, trees: dict[str, Node], k: int | None,
                  spec: MetaSpec | None = None) -> DataFrame:
        """Evaluate MANY query trees in ONE scatter pass with
        attribution → DataFrame(doc_id, score, entity_id). The per-term
        decode cache is shared across trees inside a group, so entities
        with overlapping vocabularies decode each term once (one plan
        per entity, unioned, would explode the driver at the
        reference's 10k-name mention cap, query/mentions.py:76-130).
        With ``k=None`` every match stays in Spark; with a k the groups'
        rows are cut to each tree's top-k in pandas, into a
        LocalRelation."""
        out = self._scatter_exec(
            [(str(eid), t) for eid, t in sorted(trees.items())], k, spec,
            "multi", MULTI_TYPE)
        return out if k is None else self.local_frame(
            top_k(out, k, by="entity_id"), MULTI_TYPE)

    def topk(self, tree: Node, k: int,
             spec: MetaSpec | None = None) -> DataFrame:
        """Global top-k → DataFrame(doc_id, score) ordered by (score
        desc, doc_id asc): the per-group top-k are gathered and cut in
        pandas, and the result is a LocalRelation. ``spec`` as in
        ``_scatter_exec`` (None: tombstoned docs included)."""
        return self.local_frame(
            top_k(self._scatter_exec([(None, tree)], k, spec, "topk"), k),
            RESULT_TYPE)
