"""Distributed top-k BM25 execution over the postings table.

The reference delegates retrieval to ES/Lucene (WAND + impacts,
implicit; /root/reference/openaleph_search/query/base.py:515-533 just
calls ``es.search``).  Here every query runs through ONE physical
strategy, the scatter:

  scatter:  source parts split into evaluation groups sized by the
            query's posting volume; each group slices its parts'
            postings for the query terms and, when restricting or
            faceting, its own doc_meta rows, and evaluates — in the
            driver when the work fits one group (over the part cache,
            decoded once per Engine), else one task per group (≈ one
            ES shard search, reading its own part files)
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
set is never shuffled or collected to the driver. Those rows are also
the universe a match-all or a root pure-NOT starts from
(``universe_tree``), so every tree shape evaluates here.
"""
from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..index.build import BIGRAM_FIELD, FIELD_SEP, field_of_term
from ..index.codec import (bm25_idf, bm25_tfnorm, decode_blocks,
                           decode_positions)
from ..index.storage import IndexStorage
from ..ops.util import gather, plan_tasks, task_frames
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


def universe_tree(tree: Node) -> bool:
    """A match-all, or a root Bool with only must_not (ES lenient
    "NOT x" = match_all minus x): every allowed doc but the banned."""
    return isinstance(tree, MatchAll) or (
        isinstance(tree, Bool) and bool(tree.must_not)
        and not tree.must and not tree.should)


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


def _merge(ids_a, sc_a, ids_b, sc_b, reduce=np.add.reduceat):
    """Union of two sorted (ids, scores) maps, a doc's scores summed
    (``np.maximum.reduceat``: their max, for dis_max)."""
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
    return ids[starts], reduce(sc, starts)


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
        ``positions`` is one flat int64 array, ``tfs[i]`` absolute
        positions per doc (empty unless asked).

        Batched decode (``decode_blocks``) of all kept blocks, then one
        binary-search membership pass for the filters.
        """
        cacheable = candidates is None and not want_positions
        if cacheable and term in self._decode_cache:
            return self._decode_cache[term]
        pdf = self._term_blocks(term, candidates)
        empty = (np.empty(0, np.int64), np.empty(0, np.float64),
                 np.empty(0, np.uint64), np.empty(0, np.float64),
                 np.empty(0, np.int64))
        if pdf is None:
            if cacheable:
                self._decode_cache[term] = empty
            return empty
        ids, tfs, dls = decode_blocks(
            pdf["docs_payload"], pdf["tfs_payload"], pdf["dls_payload"],
            pdf["doc_count"].to_numpy(np.int64))
        ids = ids.view(np.int64)  # doc ids < 2^63
        pos = None
        if want_positions:
            buf = b"".join(pdf["pos_payload"])
            if not buf:  # an index built without positions
                return empty
            pos = decode_positions(buf, tfs)

        keep = None
        if candidates is not None:
            keep = _in_sorted(ids, candidates)
        if self.allowed is not None:
            m2 = _in_sorted(ids, self.allowed)
            keep = m2 if keep is None else (keep & m2)
        if keep is not None:
            if pos is not None:
                pos = pos[np.repeat(keep, tfs.astype(np.int64))]
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if ids.size == 0:
            return empty
        dls = dls.astype(np.float64)
        scores = self.idf.get(term, 0.0) * bm25_tfnorm(
            tfs, dls, self._avgdl(term), self.k1, self._b(term))
        out = (ids, scores, tfs, dls, pos if pos is not None else empty[4])
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
                acc = _merge(*acc, ids, sc * node.boost)
            return acc
        if isinstance(node, PhraseLeaf):
            return self._eval_phrase(node, candidates)
        if isinstance(node, Bool):
            return self._eval_bool(node, candidates, root=root)
        if isinstance(node, DisMax):
            acc = (np.empty(0, np.int64), np.empty(0, np.float64))
            for child in node.children:
                c_ids, c_sc = self.eval(child, candidates)
                acc = _merge(*acc, c_ids, c_sc, np.maximum.reduceat)
            return acc
        if isinstance(node, MatchAll):
            return self._universe(candidates)
        raise TypeError(type(node))

    def _universe(self, candidates: np.ndarray | None):
        """Every allowed doc (of ``candidates``), score 0.0."""
        ids = self.allowed
        if candidates is not None:
            ids = candidates[_in_sorted(candidates, ids)]
        return ids, np.zeros(ids.size)

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
        if ids is None and root and node.must_not:
            ids, scores = self._universe(candidates)  # root pure-NOT
        elif ids is None:
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
                acc_ids, acc_sc = _merge(acc_ids, acc_sc, c_ids, c_sc)
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
            ids, _, tfs, dls, flat_pos = self._decode_term(
                t, inter, want_positions=True)
            ranks = np.searchsorted(inter, ids)
            per_uterm[t] = (np.repeat(ranks, tfs.astype(np.int64)),
                            flat_pos)
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



class _Postings(NamedTuple):
    """One source part's postings columns: rows sorted by (term,
    first_doc), the term column replaced by a directory of its distinct
    terms (sorted) and the row each one starts at (``starts`` ends with
    the row count)."""
    table: "pa.Table"
    terms: np.ndarray
    starts: np.ndarray
    dir_bytes: int  # the directory's memory: arrays and str objects

    @property
    def nbytes(self) -> int:
        return self.table.nbytes + self.dir_bytes

    @property
    def column_names(self) -> list[str]:
        return self.table.column_names

    def rows(self, qterms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """→ (row indices of ``qterms``' blocks, grouped by term in
        ``qterms`` order; the row count of each term)."""
        if not self.terms.size:
            return np.empty(0, np.int64), np.zeros(qterms.size, np.int64)
        i = np.minimum(np.searchsorted(self.terms, qterms),
                       self.terms.size - 1)
        n = np.where(self.terms[i] == qterms,
                     self.starts[i + 1] - self.starts[i], 0)
        head = np.repeat(self.starts[i] - (np.cumsum(n) - n), n)
        return head + np.arange(head.size), n


def _order_error(path: str, order: str) -> ValueError:
    """Slicing part tables relies on every writer's row order."""
    return ValueError(f"{path} is not sorted by {order}, the order every "
                      "index writer keeps: rebuild the index")


def _each_part(fn, parts: list) -> list:
    """``[fn(p) for p in parts]``, the parts read concurrently (pyarrow
    releases the GIL while it reads and decodes a file)."""
    if len(parts) < 2:
        return [fn(p) for p in parts]
    import os
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(min(len(parts), os.cpu_count() or 1)) as pool:
        return list(pool.map(fn, parts))


class _PartFiles:
    """The live source parts ``parts`` of an index, read from their
    files (``IndexStorage.part_path``), and its tombstone files
    ``tomb_paths``: each read returns, per part asked for, the columns
    asked for, reading the parts concurrently. Spark tasks read their
    group's parts this way (a closure cannot ship the driver's cache),
    and so does the driver when the index has no part cache;
    ``_PartCache`` keeps what it reads."""

    def __init__(self, storage: IndexStorage, parts: list[int],
                 tomb_paths: list[str]):
        self.storage = storage
        self.fs = storage.io.fs
        self.parts = parts
        self.tomb_paths = tomb_paths

    def path(self, table: str, p: int) -> str:
        return self.storage.io.path(self.storage.part_path(table, p))

    def file_bytes(self) -> int:
        """The bytes of every part file and tombstone file."""
        return sum(i.size or 0 for i in self.fs.get_file_info(
            [self.path(t, p) for p in self.parts
             for t in ("postings", "doc_meta")] + self.tomb_paths))

    def _read(self, path: str, cols: list[str]):
        import pyarrow.parquet as pq
        with self.fs.open_input_file(path) as f:
            return pq.ParquetFile(f).read(columns=cols)

    def postings(self, parts: list[int], cols: list[str],
                 qterms: np.ndarray | None = None) -> list[_Postings]:
        """Each part's postings ``cols``; only the rows of ``qterms``
        when given (a one-shot read: a directory of the whole part
        would cost more than the read)."""
        return _each_part(lambda p: self._postings(p, cols, qterms), parts)

    def _postings(self, p: int, cols: list[str],
                  qterms: np.ndarray | None) -> _Postings:
        import pyarrow as pa
        import pyarrow.compute as pc
        path = self.path("postings", p)
        tbl = self._read(path, ["term", *cols])  # cols hold first_doc
        if qterms is not None:
            tbl = tbl.filter(pc.is_in(tbl.column("term"), pa.array(
                qterms, tbl.schema.field("term").type)))
        col = tbl.column("term").combine_chunks()
        n = len(col)
        new = np.ones(n, dtype=bool)
        ordered = True
        if n > 1:
            a, b = col.slice(0, n - 1), col.slice(1)
            new[1:] = pc.not_equal(a, b).to_numpy(zero_copy_only=False)
            ordered = pc.all(pc.less_equal(a, b)).as_py()
        fd = tbl.column("first_doc").to_numpy()
        if not ordered or (np.diff(fd)[~new[1:]] < 0).any():
            raise _order_error(path, "(term, first_doc)")
        starts = np.flatnonzero(new)
        heads = col.take(pa.array(starts))
        terms = heads.to_numpy(zero_copy_only=False)
        starts = np.append(starts, n)
        # a str object costs ~49 bytes beside its characters
        return _Postings(tbl.drop_columns(["term"]), terms, starts,
                         terms.nbytes + 49 * terms.size + heads.nbytes
                         + starts.nbytes)

    def doc_meta(self, parts: list[int], cols: list[str]) -> list:
        """Each part's doc_meta ``cols`` (Arrow tables)."""
        return _each_part(lambda p: self._doc_meta(p, cols), parts)

    def _doc_meta(self, p: int, cols: list[str]):
        path = self.path("doc_meta", p)
        tbl = self._read(path, cols)  # cols hold doc_id
        if (np.diff(tbl.column("doc_id").to_numpy()) <= 0).any():
            raise _order_error(path, "doc_id")
        return tbl

    def dead(self) -> np.ndarray:
        return self.storage.dead_ids(self.tomb_paths)


class _PartCache(_PartFiles):
    """The driver's decoded source parts, kept for the Engine's
    lifetime (mutations construct fresh Engines, and the files behind
    an Engine never change): each part's postings and doc_meta columns
    and the tombstone ids, read once and then sliced by every
    driver-evaluated read. A read adds the columns it needs and the
    cache lacks. An Engine keeps one only when its index's files fit
    ``_DRIVER_CACHE_BYTES``, so nothing is ever dropped. Missing parts
    are read concurrently and outside the lock: a lookup never waits
    for another read's I/O (two reads missing the same part may both
    read it; the later one is kept). ``stats()`` counts the lookups
    served from memory (hits) and those that read a file (misses)."""

    def __init__(self, *args):
        import threading
        super().__init__(*args)
        self._held: dict = {}  # (part or None, kind) → value
        self._lock = threading.Lock()
        self.bytes = self.hits = self.misses = 0

    def stats(self) -> dict:
        with self._lock:
            return {"parts": len({p for p, _ in self._held
                                  if p is not None}),
                    "bytes": self.bytes, "hits": self.hits,
                    "misses": self.misses}

    def _fetch(self, kind: str, parts: list, cols: list[str], load):
        """Each part's ``kind`` value holding ``cols``: from memory, or
        read (``load(part, old value or None, missing cols)``) and
        kept."""
        with self._lock:
            old = [self._held.get((p, kind)) for p in parts]
        need = {}
        for p, v in zip(parts, old):
            missing = [c for c in cols
                       if v is None or c not in v.column_names]
            if v is None or missing:
                need[p] = (v, missing)
        new = dict(zip(need, _each_part(lambda p: load(p, *need[p]),
                                        list(need))))
        with self._lock:
            self.hits += len(parts) - len(need)
            self.misses += len(need)
            for p, v in new.items():
                prev = self._held.get((p, kind))
                self.bytes += v.nbytes - (0 if prev is None
                                          else prev.nbytes)
                self._held[(p, kind)] = v
        return [new.get(p, v) for p, v in zip(parts, old)]

    def postings(self, parts: list[int], cols: list[str],
                 qterms: np.ndarray | None = None) -> list[_Postings]:
        """The whole parts, whatever ``qterms``: later reads slice
        them."""
        def load(p, old, missing):
            if old is None:
                return self._postings(p, missing, None)
            return old._replace(table=_with_columns(
                old.table,
                self._read(self.path("postings", p), missing)))
        return self._fetch("postings", parts, cols, load)

    def doc_meta(self, parts: list[int], cols: list[str]) -> list:
        def load(p, old, missing):
            if old is None:
                return self._doc_meta(p, missing)
            return _with_columns(
                old, self._read(self.path("doc_meta", p), missing))
        return self._fetch("doc_meta", parts, cols, load)

    def dead(self) -> np.ndarray:
        return self._fetch("tombstones", [None], [],
                           lambda p, old, missing: _PartFiles.dead(self))[0]


def _with_columns(tbl, more):
    for name in more.column_names:
        tbl = tbl.append_column(name, more.column(name))
    return tbl


def _group_blocks(tables: _PartFiles, parts: list[int],
                  qterms: np.ndarray, cols: list[str]
                  ) -> pd.DataFrame | None:
    """The blocks of ``qterms`` in ``parts`` as one frame, term-major
    and, within a term, in first_doc order: parts ascend and every doc
    id carries its part as a prefix. ``term`` is the last column."""
    import pyarrow as pa
    pieces, tix = [], []
    for post in tables.postings(parts, cols, qterms):
        idx, n = post.rows(qterms)
        if idx.size:
            pieces.append(post.table.select(cols).take(pa.array(idx)))
            tix.append(np.repeat(np.arange(qterms.size), n))
    if not pieces:
        return None
    tix = np.concatenate(tix)
    order = np.argsort(tix, kind="stable")
    blocks = pa.concat_tables(pieces).take(pa.array(order)).to_pandas()
    blocks["term"] = qterms[tix[order]]
    return blocks


def _hydrate(out: pd.DataFrame, tables: _PartFiles, parts: list[int],
             meta_fields: list[str]) -> pd.DataFrame:
    """``out`` (one row per hit) joined with each hit's doc_meta row:
    a binary search of the hit ids in each part's doc_id column and a
    take. Rows keep ``out``'s order; a hit with no doc_meta row drops
    out (an inner join)."""
    import pyarrow as pa
    fields = ["doc_id", *(f for f in meta_fields if f != "doc_id")]
    ids = out["doc_id"].to_numpy()
    pieces, rows = [], []
    for mt in tables.doc_meta(parts, fields):
        pid = mt.column("doc_id").to_numpy()
        if not pid.size:
            continue
        pos = np.minimum(np.searchsorted(pid, ids), pid.size - 1)
        found = np.flatnonzero(pid[pos] == ids)
        if found.size:
            pieces.append(mt.select(fields).take(pa.array(pos[found])))
            rows.append(found)
    if not pieces:
        return out.iloc[:0].assign(**{f: [] for f in fields[1:]})
    rows = np.concatenate(rows)
    order = np.argsort(rows, kind="stable")
    meta = (pa.concat_tables(pieces, promote_options="permissive")
            .take(pa.array(order)).to_pandas().drop(columns="doc_id"))
    return pd.concat([out.iloc[rows[order]].reset_index(drop=True), meta],
                     axis=1)


def _scatter_eval_group(parts, tables, tomb, items, ctx, qterms,
                        read_cols, need_pos, k, spec, mode, meta_fields,
                        facet_fields, meta_read_cols):
    """Evaluate one scatter group (a set of doc-disjoint source parts),
    in a task or in the driver: slice the group's part tables
    (``tables``: the driver's ``_PartCache``, else ``_PartFiles``) for
    the query terms' postings blocks, and, when restricting, faceting
    or evaluating a universe tree, for the doc_meta rows where
    ``spec.mask`` holds and the doc is live (not in ``tomb``); then run
    the _ShardEval kernel. Returns one pandas frame (mode-shaped) or
    None."""
    import pyarrow as pa

    allowed = None
    meta = None
    if meta_read_cols is not None:
        pieces = []
        for mt in tables.doc_meta(parts, meta_read_cols):
            keep = spec.mask(mt)
            if tomb is not None:
                keep &= ~_in_sorted(mt.column("doc_id").to_numpy(), tomb)
            pieces.append(mt.select(["doc_id", *(facet_fields or [])])
                          .filter(pa.array(keep)))
        meta = pa.concat_tables(pieces, promote_options="permissive")
        allowed = meta.column("doc_id").to_numpy()
        if allowed.size == 0:
            return None

    cols = [c for c in read_cols if c != "term"]
    blocks = _group_blocks(tables, parts, qterms, cols) if cols else None
    by_term = {}  # stays empty for a universe tree with no terms
    if blocks is not None:
        if not need_pos:
            blocks["pos_payload"] = b""
        blocks = SearchExecutor._attach_bounds(blocks, ctx)
        edges = np.searchsorted(blocks["term"].to_numpy(), qterms)
        edges = np.append(edges, len(blocks))
        by_term = {t: blocks.iloc[a:b] for t, a, b in
                   zip(qterms, edges[:-1], edges[1:]) if b > a}
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
            vals = meta.column(f).to_pandas().to_numpy()[pos]
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
        # own parts
        out = _hydrate(out, tables, parts, meta_fields)
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


def scatter_gathers(mode: str, k: int | None) -> bool:
    """Whether a scatter mode's output is bounded, so it is gathered to
    the driver: count (≤ groups rows), facet (≤ groups × distinct
    values), topk and multi with a k (≤ groups × trees × k). Scores
    never gather: with k=None (full match, export) they are unbounded,
    so they stay a Spark DataFrame."""
    return mode in ("count", "facet") or (
        mode in ("topk", "multi") and k is not None)


# the bytes each driver cache of an executor (so of an Engine: every
# open Engine holds its own) may hold, decided once per Engine from the
# files, before anything is decoded. The term dictionary is held as
# sorted arrays when its decoded size fits: the term_stats row groups'
# uncompressed bytes plus a str object's ~49 bytes per term, read from
# the footers (a held term takes ~12x its ZSTD file bytes). ES keeps
# the terms dict in the node's heap/FS cache the same way; a larger one
# is read from its files per lookup, only the rows the lookup needs.
# The part cache (_PartCache) is kept when the index's part and
# tombstone FILE bytes fit; a larger index's driver reads read the
# query terms' rows from the files on every read. Decoded, the part
# cache takes more than its files (the perfbench search index: 2.8 MB
# of files, 7.4 MB decoded).
_DRIVER_CACHE_BYTES = 64 * 1024 * 1024


def _prefix_end(prefix: str) -> str | None:
    """The least string above every string that starts with
    ``prefix``: its last code point incremented (a surrogate is no
    text, so U+D7FF steps to U+E000); None when there is none, i.e. the
    dictionary's end."""
    p = prefix.rstrip("\U0010ffff")
    if not p:
        return None
    c = ord(p[-1]) + 1
    return p[:-1] + chr(0xE000 if c == 0xD800 else c)


class _TermDict:
    """The index's term dictionary (``term_stats``: term, df), which
    every planning lookup reads: idf, prefix and wildcard expansion,
    ``Engine.stats`` and more_like_this's term selection. Only where
    the rows come from differs, decided once from the files' footers:
    sorted arrays held in the driver when their decoded size fits
    ``_DRIVER_CACHE_BYTES``, else a read of each lookup's rows from the
    files, streamed in record batches so driver memory stays bounded,
    from only the row groups whose term range (footer statistics) meets
    the lookup's terms: every writer sorts the files by term, so few
    do. No lookup runs a Spark job."""

    def __init__(self, storage: IndexStorage):
        import pyarrow as pa
        import pyarrow.dataset as ds
        self.files = ds.dataset(
            storage.term_stats_paths(),
            pa.schema([("term", pa.string()), ("df", pa.int64())]),
            format="parquet", filesystem=storage.io.fs)
        # each row group as a fragment, with its term statistics, and
        # the held form's size, all from the footers
        self.groups, held_bytes = [], 0
        for frag in self.files.get_fragments():
            frag.ensure_complete_metadata()
            md = frag.metadata
            held_bytes += sum(md.row_group(i).total_byte_size
                              + 49 * md.row_group(i).num_rows
                              for i in range(md.num_row_groups))
            self.groups += [(frag.subset(row_group_ids=[rg.id]),
                             (rg.statistics or {}).get("term") or {})
                            for rg in frag.row_groups]
        self.held = None
        if held_bytes <= _DRIVER_CACHE_BYTES:
            tbl = self.files.to_table()
            terms = tbl.column("term").to_numpy(zero_copy_only=False)
            order = np.argsort(terms, kind="mergesort")
            self.held = terms[order], tbl.column("df").to_numpy()[order]

    def _read(self, cond, meets):
        """The record batches of the file rows where ``cond`` holds,
        read from the row groups whose term range ``meets(min, max)``
        (or that have no statistics)."""
        import pyarrow.dataset as ds
        frags = [f for f, st in self.groups
                 if "min" not in st or meets(st["min"], st["max"])]
        return ds.FileSystemDataset(
            frags, self.files.schema, self.files.format,
            self.files.filesystem).to_batches(filter=cond)

    def stats(self) -> dict | None:
        """``{"terms": n}`` when held in the driver, else None."""
        return None if self.held is None else {
            "terms": int(self.held[0].size)}

    def n_terms(self) -> int:
        """The dictionary's size (the files' footer row counts when it
        is not held)."""
        if self.held is not None:
            return int(self.held[0].size)
        return self.files.count_rows()

    def dfs(self, terms: list[str]) -> dict[str, int]:
        """term → df of each of ``terms`` in the dictionary."""
        qt = np.asarray(sorted(set(terms)), dtype=object)
        if self.held is None:
            import pyarrow.compute as pc

            def meets(lo, hi):
                i = np.searchsorted(qt, lo)
                return i < qt.size and qt[i] <= hi
            out = {}
            for batch in self._read(pc.field("term").isin(qt), meets):
                out.update(zip(*batch.to_pydict().values()))
            return out
        tarr, dfarr = self.held
        if not tarr.size or not qt.size:
            return {}
        pos = np.minimum(np.searchsorted(tarr, qt), tarr.size - 1)
        hit = tarr[pos] == qt
        return dict(zip(qt[hit].tolist(), dfarr[pos[hit]].tolist()))

    def range(self, lo: str, hi: str | None):
        """Yield the rows with lo ≤ term < hi (``hi`` None: to the
        end) in batches, each as (Arrow string array, df ndarray):
        expansion matches a whole batch's terms at once."""
        import pyarrow as pa
        if self.held is not None:
            tarr, dfarr = self.held
            a = np.searchsorted(tarr, lo)
            b = tarr.size if hi is None else np.searchsorted(tarr, hi)
            yield pa.array(tarr[a:b], pa.string()), dfarr[a:b]
            return
        import pyarrow.compute as pc
        cond = pc.field("term") >= lo
        if hi is not None:
            cond &= pc.field("term") < hi
        for batch in self._read(cond, lambda a, b: b >= lo and (
                hi is None or a < hi)):
            yield batch.column(0), batch.column(1).to_numpy()


class SearchExecutor:
    def __init__(self, spark: SparkSession, storage: IndexStorage,
                 allow_leading_wildcard: bool = False):
        self.spark = spark
        self.storage = storage
        self.meta = storage.read_meta()
        # reference settings.py:139 — leading wildcards scan the whole
        # term dictionary, off unless the deployment opts in
        self.allow_leading_wildcard = allow_leading_wildcard
        # the term dictionary, the scatter layout and the part cache
        # live as long as the Engine (mutations construct fresh
        # Engines); None = unprobed
        self._terms: _TermDict | None = None
        self._scatter: dict | None = None

    def _term_dict(self) -> _TermDict:
        if self._terms is None:
            self._terms = _TermDict(self.storage)
        return self._terms

    def _expand(self, tree: Node) -> None:
        """Plan-time prefix and wildcard rewrite against the term
        dictionary (ES query_string top-terms rewrite). A leaf's
        candidates are the dictionary range of its literal prefix, the
        pattern before its first metacharacter (a prefix leaf is a
        wildcard with nothing after it), that the whole pattern matches
        (as an Arrow LIKE pattern: ``*`` → ``%``, ``?`` → ``_``); an
        unfielded pattern only expands content terms, never
        field-prefixed or bigram entries ("pa*" must not match the
        ``path`` field's terms). A running top ``max_expansions`` by
        (df desc, term asc) is kept across the range's batches. Leading
        wildcards (no literal prefix) would scan the whole dictionary
        and are gated behind ``allow_leading_wildcard`` (reference
        query/base.py:62, settings.py:139)."""
        import re

        import pyarrow as pa
        import pyarrow.compute as pc
        specs = []
        for leaf in tree.leaves():
            if isinstance(leaf, PrefixLeaf) and leaf.expanded is None:
                specs.append((leaf, leaf.prefix, leaf.prefix, None))
            elif isinstance(leaf, WildcardLeaf) and leaf.expanded is None:
                pre = re.split(r"[*?]", leaf.pattern, maxsplit=1)[0]
                if not pre and not self.allow_leading_wildcard:
                    raise ValueError(
                        f"leading wildcard {leaf.pattern!r} requires "
                        "allow_leading_wildcard=true")
                like = (re.sub(r"[\\%_]", r"\\\g<0>", leaf.pattern)
                        .replace("*", "%").replace("?", "_"))
                specs.append((leaf, leaf.pattern, pre, like))
        for leaf, pattern, pre, like in specs:
            top = (np.empty(0, object), np.empty(0, np.int64))
            for terms, dfs in self._term_dict().range(
                    pre, _prefix_end(pre)):
                keep = np.ones(len(terms), bool)
                if FIELD_SEP not in pattern:
                    keep &= ~pc.match_substring(terms, FIELD_SEP).to_numpy(
                        zero_copy_only=False)
                if like is not None:
                    keep &= pc.match_like(terms, like).to_numpy(
                        zero_copy_only=False)
                terms = np.concatenate([top[0], terms.filter(
                    pa.array(keep)).to_numpy(zero_copy_only=False)])
                dfs = np.concatenate([top[1], dfs[keep]])
                order = np.lexsort((terms, -dfs))[:leaf.max_expansions]
                top = (terms[order], dfs[order])
            leaf.expanded = [str(t) for t in top[0]]

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
        the same dictionary lookup that yields idf — no extra job.
        A universe tree adds the index's ``n_docs``: its groups read
        every doc_meta row. ctx is None when nothing can match.
        Raises ``ValueError`` for a phrase the index cannot answer: one
        that needs positions on an index built without them."""
        need_pos = self._need_positions(trees)
        if need_pos and not self.meta["with_positions"]:
            raise ValueError(
                "phrase query needs positions, but this index was built "
                "with with_positions=False (bigrams=True answers only "
                "exact phrases)")
        for t in trees:
            self._expand(t)
        terms = sorted(set().union(
            *(self._collect_terms(t) for t in trees)))
        universe = any(map(universe_tree, trees))
        if not terms and not universe:
            return terms, None, False, [], 0

        n_docs = float(self.meta["n_docs"])
        avgdl = float(self.meta["avgdl"])
        avgdl_by_field = dict(self.meta.get("avgdl_by_field")
                              or {"content": avgdl})
        k1, b = float(self.meta["k1"]), float(self.meta["b"])
        dfs = self._term_dict().dfs(terms) if terms else {}
        idf = {t: float(bm25_idf(float(d), n_docs)) for t, d in dfs.items()}

        # column pruning: positions are the fattest payload — only
        # phrase queries read them (the scatter read skips the column
        # entirely otherwise; verified in tests/test_plans.py). With
        # bigram shingles a 2-term slop-0 phrase needs NO positions at
        # all (the bigram tf IS the phrase tf).
        bigrams_on = bool(self.meta.get("bigrams"))
        # sum_tf intentionally absent: the evaluator never reads it
        cols = ["term", "first_doc", "last_doc", "doc_count",
                "max_tf", "min_dl", "docs_payload",
                "tfs_payload", "dls_payload"] if terms else []
        if need_pos:
            cols.append("pos_payload")
        ctx = {"idf": idf, "k_prune": k,
               "k1": k1, "b": b, "avgdl_by_field": avgdl_by_field,
               "b_by_field": dict(self.meta.get("b_by_field") or {}),
               "bigrams": bigrams_on, "universe": universe}
        est = sum(dfs.values()) + (int(n_docs) if universe else 0)
        return terms, ctx, need_pos, cols, est

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
        b_map = ctx.get("b_by_field") or {}
        tfm = pdf["max_tf"].to_numpy(np.float64)
        dlm = pdf["min_dl"].to_numpy(np.float64)
        # per-field b: the bound must use the SAME b as scoring or
        # pruning loses soundness for weakened (b<B) fields
        fields = {t: field_of_term(t) for t in pdf["term"].unique()}
        avg = pdf["term"].map({t: avg_map.get(f, 1.0)
                               for t, f in fields.items()}
                              ).to_numpy(np.float64)
        bs = pdf["term"].map({t: b_map.get(f, ctx["b"])
                              for t, f in fields.items()}
                             ).to_numpy(np.float64)
        norm = ctx["k1"] * (1.0 - bs + bs * dlm
                            / np.maximum(avg, 1e-12))
        pdf = pdf.copy()
        pdf["block_max_tfnorm"] = tfm / (tfm + norm)
        return pdf

    # -- the scatter ---------------------------------------------------------
    # Each evaluation group slices its own source parts (postings +
    # doc_meta + tombstones), evaluates with the _ShardEval kernel, and
    # (for top-k) hydrates from its own doc_meta rows.
    # Where a group runs: a bounded plan whose work fits one group runs
    # in the driver (zero Spark jobs), ≥2 groups run as one
    # single-stage job (Range → MapInPandas, no exchange, one task per
    # group ≈ one ES shard search) whose tasks send their frames back.
    # The gather is a pandas merge of those frames (≤ groups × k rows);
    # the final cut runs there and the result is wrapped as a
    # LocalRelation, so reading it runs no job either. Unbounded scores
    # (k=None) stay a DataFrame.
    #
    # What a group reads: in the driver, the executor's _PartCache,
    # which decodes each part file once per Engine, so a warm read opens
    # no index file; an index whose files exceed _DRIVER_CACHE_BYTES has
    # no cache, and its driver reads read the query terms' rows from
    # the files (_PartFiles), as a task reads its group's files. Either
    # way the query's blocks are a binary search of each part's term
    # directory (postings rows are sorted by (term, first_doc)) and a
    # hit's doc_meta row is a binary search of its part's doc_id column
    # (sorted): the same slicing code serves both.
    #
    # Correctness lever: every source part is doc-disjoint and carries
    # ALL terms for its docs, so any grouping of WHOLE parts is a valid
    # evaluation group — per-group top-k unions to a superset of the
    # global top-k, scores are exact per doc (global idf/avgdl live in
    # ctx). The groups hold the live parts (IndexStorage.parts), listed
    # once per Engine; an empty index has none, and reads of it are
    # empty.

    def _scatter_layout(self) -> dict:
        if self._scatter is None:
            st = self.storage
            parts, uncommitted = st.listing()
            args = (st, parts, st.tombstone_paths())
            files = _PartFiles(*args)
            self._scatter = {
                "parts": parts, "uncommitted": uncommitted, "files": files,
                "cache": (_PartCache(*args)
                          if files.file_bytes() <= _DRIVER_CACHE_BYTES
                          else None)}
        return self._scatter

    def _driver_tables(self) -> _PartFiles:
        """What a driver-evaluated read slices: the part cache, or the
        part files when the index has none."""
        lay = self._scatter_layout()
        return lay["cache"] or lay["files"]

    def scatter_ok(self) -> bool:
        """True for every index that opens (a layout the scatter cannot
        read raises ValueError instead): the scatter is the only query
        path."""
        self._scatter_layout()
        return True

    def _scatter_plan(self, trees: list[Node], k: int | None, mode: str):
        """Driver-side scatter planning → (terms, ctx, need_pos,
        read_cols, est_postings, tasks, groups). The one place the
        fan-out and the projected postings columns are decided:
        ``_scatter_exec`` runs it and ``Engine.explain`` reports it.
        The source parts are sized by the query's work, its postings
        (``plan_tasks`` over ``_POSTINGS_PER_TASK``); ``tasks`` is 0
        when a bounded mode evaluates in the driver."""
        terms, ctx, need_pos, read_cols, est = self._plan_ctx(trees, k)
        parts = self._scatter_layout()["parts"]
        groups, tasks = plan_tasks(
            self.spark, parts if ctx is not None else [], est,
            _POSTINGS_PER_TASK, scatter_gathers(mode, k))
        return terms, ctx, need_pos, read_cols, est, tasks, groups

    def _scatter_exec(self, items: list[tuple], k: int | None,
                      spec: MetaSpec | None, mode: str,
                      out_schema: StructType | None = None,
                      meta_fields: list[str] | None = None,
                      facet_fields: list[str] | None = None):
        """Run the scatter. ``items`` = [(entity_id|None, tree)].

        ``spec`` semantics: None → raw postings evaluation, tombstoned
        docs included (a universe tree starts from every doc_meta row);
        a MetaSpec (possibly with zero conjuncts) → restrict to LIVE
        docs passing it (tombstones subtracted).
        Modes: scores | multi | topk | facet | count; ``meta_fields``
        hydrates each group's hits from its own doc_meta files.

        A bounded mode (``scatter_gathers``) returns the per-group
        frames gathered into one pandas frame, or None when nothing
        matched: a plan whose work fits one group evaluates in the
        driver with no Spark job, a larger one runs one job whose tasks
        send their frames back (``ops.util.gather``). ``scores`` returns
        the job's DataFrame of ``out_schema``: with ``k=None`` its
        output is unbounded, so it stays in Spark.
        """
        lay = self._scatter_layout()
        terms, ctx, need_pos, read_cols, est, tasks, groups = \
            self._scatter_plan([t for _, t in items], k, mode)
        bounded = scatter_gathers(mode, k)
        if not groups or (spec is not None and spec.match_none):
            return None if bounded else self.spark.createDataFrame(
                [], out_schema)
        run = self._scatter_fn(
            groups, self._driver_tables() if tasks == 0 else lay["files"],
            items, ctx,
            terms, read_cols, need_pos, k, spec, mode, meta_fields,
            facet_fields)
        if not bounded:
            return task_frames(self.spark, tasks, run, out_schema)
        frames = gather(self.spark, groups, tasks, run)
        return pd.concat(frames, ignore_index=True) if frames else None

    @staticmethod
    def _scatter_fn(groups, tables: _PartFiles, items, ctx, terms,
                    read_cols, need_pos, k, spec: MetaSpec | None,
                    mode: str, meta_fields, facet_fields):
        """→ ``run(group ids)``, yielding each group's non-empty frame;
        the same closure runs in the driver (over the part cache) or
        inside a task (over the part files)."""
        qterms = np.asarray([str(t) for t in terms], dtype=object)
        # spec None: raw evaluation, tombstoned docs included
        tombs = spec is not None and bool(tables.tomb_paths)
        spec = spec or MetaSpec()
        spec_cols = spec.cols()
        # facet mode always needs the meta read (values of matched
        # docs), and a universe tree its doc ids
        meta_read_cols = None
        if mode == "facet":
            meta_read_cols = ["doc_id"] + sorted(
                set(spec_cols) | set(facet_fields))
        elif spec_cols or tombs or ctx["universe"]:
            meta_read_cols = ["doc_id"] + spec_cols

        def run(gids):
            tomb = tables.dead() if tombs else None
            for gid in gids:
                out = _scatter_eval_group(
                    groups[int(gid)], tables, tomb, items, ctx, qterms,
                    read_cols, need_pos, k, spec, mode, meta_fields,
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
