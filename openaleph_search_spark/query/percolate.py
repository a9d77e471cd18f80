"""Percolation (reverse search, Q15) + mentions queries (Q19).

The reference stores one ES percolator query per watchlist entity
(phrase shoulds over its names, boost 2.0 primary / 0.8 other names,
slop 2 — /root/reference/openaleph_search/transform/util.py:163-233,
query/queries.py:373-528, docs/percolation.md) and asks ES which stored
queries match a document. Spark-first this inverts into a **broadcast
watchlist join**: analyze each document once (vectorized), then check
every entity's phrase clauses against the token-position map inside one
``mapInArrow`` pass — no index round-trip, embarrassingly parallel
over the docs table.

Name cleaning (T9, transform/util.py:98-156 + settings.py:122,131):
multi-token names kept (unless initials-only); single tokens kept only
when ≥ ``single_token_min_length`` chars.

Scoring (pinned, documented divergence from ES BM25-of-percolator):
score = Σ boost over matched clauses; primary names boost 2.0, other
names 0.8 (reference T10 boosts).
"""
from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..analysis.analyzer import analyze_query_terms, tokenize_flat
from ..ops.util import spread
from .filters import MetaSpec
from .ir import Bool, PhraseLeaf, TermLeaf

SINGLE_TOKEN_MIN_LENGTH = 7  # reference pytest env pins 7
NAME_BOOST = 2.0
OTHER_NAME_BOOST = 0.8
DEFAULT_SLOP = 2
MAX_PICKED_NAMES = 5   # reference pick_names budget (matching.py:31-69)
MAX_CLAUSES = 500      # reference MAX_CLAUSES (matching.py:28)
# docs per kernel chunk: bounds the per-chunk working set (the
# lexsort/searchsorted intermediates grow with docs x clause hits, and
# ~1k docs keeps them cache-sized), and the docs one batch task is
# sized for (ops.util.spread)
CHUNK_DOCS = 1024


def _levenshtein(a: str, b: str) -> int:
    """Plain DP edit distance — names are short, driver-side only."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def pick_names(names: list[str], limit: int = MAX_PICKED_NAMES
               ) -> list[str]:
    """Bound a huge alias list to a few representative names before
    query compilation (reference matching.py:31-69: an entity with
    hundreds of aliases would be prohibitively expensive to search).

    Deterministic re-base of the reference algorithm: the centroid is
    the name minimizing the summed edit distance to all others (the
    registry.name.pick role), then greedily add the name MAXIMIZING
    summed distance to everything picked (diversity)."""
    names = sorted(set(names))
    if len(names) <= limit:
        return names
    sums = {n: sum(_levenshtein(n, m) for m in names if m != n)
            for n in names}
    picked = [min(names, key=lambda n: (sums[n], n))]  # centroid
    while len(picked) < limit:
        rest = [n for n in names if n not in picked]
        best = max(rest, key=lambda n: (
            sum(_levenshtein(n, p) for p in picked), n))
        picked.append(best)
    return picked


def clean_names(names: list[str],
                single_token_min_length: int = SINGLE_TOKEN_MIN_LENGTH
                ) -> list[list[str]]:
    """→ list of analyzed token lists that survive the cleaner."""
    out = []
    for name in names or []:
        toks = analyze_query_terms(name)
        if not toks:
            continue
        if len(toks) == 1:
            if len(toks[0]) >= single_token_min_length:
                out.append(toks)
        else:
            # drop initials-only multi-token names ("J. D.")
            if any(len(t) > 1 for t in toks):
                out.append(toks)
    return out


@dataclass
class StoredQuery:
    entity_id: str
    clauses: list[tuple[list[str], float]]  # (tokens, boost)


def compile_watchlist(rows: list[dict],
                      single_token_min_length: int = SINGLE_TOKEN_MIN_LENGTH
                      ) -> list[StoredQuery]:
    """rows: [{"entity_id", "names": [...], "other_names": [...]}]."""
    out = []
    for r in rows:
        clauses = [(t, NAME_BOOST) for t in
                   _budgeted_names(r.get("names"),
                                   single_token_min_length)]
        clauses += [(t, OTHER_NAME_BOOST) for t in
                    _budgeted_names(r.get("other_names"),
                                    single_token_min_length)]
        if clauses:
            out.append(StoredQuery(str(r["entity_id"]),
                                   clauses[:MAX_CLAUSES]))
    return out


def _budgeted_names(names, single_token_min_length: int
                    ) -> list[list[str]]:
    """clean → (if over budget) pick_names → token lists."""
    cleaned = clean_names(names, single_token_min_length)
    if len(cleaned) <= MAX_PICKED_NAMES:
        return cleaned
    keep = set(pick_names([" ".join(t) for t in cleaned]))
    return [t for t in cleaned if " ".join(t) in keep]


def _phrase_hits(pos_map: dict, tokens: list[str], slop: int) -> int:
    """#anchors where every token aligns within slop (same pinned
    semantics as the index-side phrase matcher).

    Pure-python sets/bisect: position lists here are tiny (a handful of
    occurrences per doc) — numpy per-call overhead dominates at this
    size, and this runs per (doc, triggered clause)."""
    import bisect
    plists = [pos_map.get(t) for t in tokens]
    if any(p is None for p in plists):
        return 0
    if slop == 0:
        common = {p for p in plists[0]}
        for i, pl in enumerate(plists[1:], start=1):
            common &= {p - i for p in pl}
            if not common:
                return 0
        return len(common)
    tf = 0
    adj = [sorted(p - i for p in pl)
           for i, pl in enumerate(plists)]
    for anchor in adj[0]:
        ok = True
        for a in adj[1:]:
            j = bisect.bisect_left(a, anchor)
            d = min((abs(a[j] - anchor) if j < len(a) else 1 << 30),
                    (abs(a[j - 1] - anchor) if j > 0 else 1 << 30))
            if d > slop:
                ok = False
                break
        if ok:
            tf += 1
    return tf


def percolate_text(text: str, stored: list[StoredQuery],
                   slop: int = DEFAULT_SLOP) -> list[dict]:
    """Single-document percolation (the reference's percolate-text CLI).
    → [{"entity_id", "score", "matched_names": [...]}] score-desc."""
    ridx, terms, pos = tokenize_flat(pd.Series([text]))
    pos_map: dict[str, list[int]] = {}
    for t, p in zip(terms.tolist(), pos.tolist()):
        pos_map.setdefault(t, []).append(p)
    pos_map = {t: sorted(v) for t, v in pos_map.items()}
    out = []
    for sq in stored:
        score, matched = 0.0, []
        for tokens, boost in sq.clauses:
            tf = _phrase_hits(pos_map, tokens, slop)
            if tf > 0:
                score += boost
                matched.append(" ".join(tokens))
        if matched:
            out.append({"entity_id": sq.entity_id, "score": score,
                        "matched_names": matched})
    out.sort(key=lambda r: (-r["score"], r["entity_id"]))
    return out


class _PercPlan:
    """Driver-compiled, closure-broadcast percolation tables (tiny —
    sized by the watchlist, not the corpus)."""

    __slots__ = ("c_gid_arr", "c_slot_arr", "lut_keys", "lut_cnt",
                 "lut_off", "lut_flat", "g_entity", "g_boost", "g_name",
                 "g_m", "g_eord", "n_gid", "m_classes")

    def __init__(self, stored: list[StoredQuery]):
        # flat clause tables (driver-side, tiny)
        c_tok, c_gid, c_slot = [], [], []
        g_entity, g_boost, g_name, g_m = [], [], [], []
        gid = 0
        for sq in stored:
            for tokens, boost in sq.clauses:
                for s, t in enumerate(tokens):
                    c_tok.append(t)
                    c_gid.append(gid)
                    c_slot.append(s)
                g_entity.append(sq.entity_id)
                g_boost.append(boost)
                g_name.append(" ".join(tokens))
                g_m.append(len(tokens))
                gid += 1
        self.c_gid_arr = np.asarray(c_gid, dtype=np.int64)
        self.c_slot_arr = np.asarray(c_slot, dtype=np.int64)
        # term → clause-entry lookup: factorize + this LUT hashes each
        # term once and gathers entries with pure integer numpy (a pandas
        # merge of every token against the clause table cost the most)
        _lut: dict[str, list[int]] = {}
        for i, t in enumerate(c_tok):
            _lut.setdefault(t, []).append(i)
        self.lut_keys = {t: j for j, t in enumerate(_lut)}
        self.lut_cnt = np.array([len(v) for v in _lut.values()],
                                dtype=np.int64)
        self.lut_off = (np.concatenate(
            [[0], np.cumsum(self.lut_cnt)[:-1]])
            if len(self.lut_cnt) else np.empty(0, np.int64))
        self.lut_flat = (np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in _lut.values()])
            if _lut else np.empty(0, np.int64))
        self.g_entity = np.asarray(g_entity, dtype=object)
        self.g_boost = np.asarray(g_boost, dtype=np.float64)
        self.g_name = np.asarray(g_name, dtype=object)
        self.g_m = np.asarray(g_m, dtype=np.int64)
        # entity ordinal per clause: clauses of one entity are
        # contiguous gids, so (doc, entity) groups are contiguous in
        # sorted pair order
        self.g_eord = np.zeros(gid, dtype=np.int64)
        if gid:
            self.g_eord[1:] = np.cumsum(
                self.g_entity[1:] != self.g_entity[:-1])
        self.n_gid = gid
        self.m_classes = sorted(set(self.g_m.tolist()))


def _percolate_chunk(P: _PercPlan, texts: pd.Series, slop: int):
    """Evaluate one chunk of ≤ ``CHUNK_DOCS`` docs. Returns ``None`` (no
    hits) or ``(m_doc_grp, ent_idx, scores, m_gid, grp)`` where ``m_doc_grp``
    indexes rows of the chunk, ``ent_idx = m_gid[grp]`` indexes
    ``P.g_entity``/group starts, and matched names per group are
    ``P.g_name[m_gid][grp[i]:grp[i+1]]``."""
    ridx, terms, pos = tokenize_flat(texts)
    if not len(terms) or not P.n_gid:
        return None
    codes, uniq = pd.factorize(terms, sort=False)
    u_slot = np.fromiter(
        (P.lut_keys.get(u, -1) for u in uniq),
        np.int64, count=len(uniq))
    tok_slot = u_slot[codes]
    mmask = tok_slot >= 0
    if not mmask.any():
        return None
    tslot = tok_slot[mmask]
    tdoc = ridx[mmask]
    tpos = pos[mmask]
    reps = P.lut_cnt[tslot]
    cum = np.cumsum(reps)
    ii = (np.arange(int(cum[-1]), dtype=np.int64)
          - np.repeat(cum - reps, reps)
          + np.repeat(P.lut_off[tslot], reps))
    entries = P.lut_flat[ii]
    doc = np.repeat(tdoc, reps)
    hgid = P.c_gid_arr[entries]
    slot = P.c_slot_arr[entries]
    adj = np.repeat(tpos, reps) - slot
    # composite key: (doc, clause) pair base + adjusted pos.
    # span must exceed TWICE the in-pair key range plus slop so
    # the nearest key of a NEIGHBORING pair is always farther
    # than slop (keys near a pair's top edge sit span-offmax
    # away from the next pair's bottom edge).
    offset = np.int64(int(P.g_m.max()) + 1)  # adj ≥ -(m-1)
    off_max = int(pos.max()) + int(offset)
    span = np.int64(2 * off_max + slop + 2)
    pair = doc * np.int64(P.n_gid) + hgid
    key = pair * span + adj + offset
    hm = P.g_m[hgid]
    matched_pairs = []
    for m in P.m_classes:
        sel = hm == m
        if not sel.any():
            continue
        if m == 1:
            matched_pairs.append(np.unique(pair[sel]))
            continue
        anchors = np.sort(key[sel & (slot == 0)])
        for j in range(1, m):
            if anchors.size == 0:
                break
            ref = np.sort(key[sel & (slot == j)])
            if ref.size == 0:
                anchors = anchors[:0]
                break
            idx = np.searchsorted(ref, anchors)
            left = ref[np.maximum(idx - 1, 0)]
            right = ref[np.minimum(idx, ref.size - 1)]
            dist = np.minimum(np.abs(anchors - left),
                              np.abs(right - anchors))
            anchors = anchors[dist <= slop]
        if anchors.size:
            matched_pairs.append(np.unique(anchors // span))
    if not matched_pairs:
        return None
    # (doc, entity) groups are contiguous in sorted pair order
    # (entity clauses have contiguous gids): segment-reduce the
    # scores — no per-group python aggregation
    mp = np.unique(np.concatenate(matched_pairs))
    m_doc = (mp // P.n_gid).astype(np.int64)
    m_gid = (mp % P.n_gid).astype(np.int64)
    m_e = P.g_eord[m_gid]
    grp = np.flatnonzero(np.r_[True, (m_doc[1:] != m_doc[:-1])
                               | (m_e[1:] != m_e[:-1])])
    scores = np.add.reduceat(P.g_boost[m_gid], grp)
    return m_doc[grp], m_gid[grp], scores, m_gid, grp


def _percolate_batch_arrow_fn(stored: list[StoredQuery],
                              id_cols: list[str], text_col: str,
                              slop: int, large_var_types: bool = False):
    """The mapInArrow body of :func:`percolate_docs`, batch and
    streaming alike (module-level so the property suite can fuzz it
    directly against the per-doc ``percolate_text`` reference path).
    Each ≤ ``CHUNK_DOCS`` slice of an input batch runs the
    :func:`_percolate_chunk` kernel, and its output batch is built
    directly in Arrow — the name dictionary is converted ONCE per task
    and every output column is an integer ``take`` on it (or on the
    input batch), instead of a per-row pandas→Arrow object conversion
    of ~100k rows/task. Measured 3-7× cheaper on the result shape
    (shrink the Python boundary, not just the kernel).
    ``large_var_types`` mirrors the session's
    ``spark.sql.execution.arrow.useLargeVarTypes``, under which Spark
    declares ``large_string`` for every string of the result schema; the
    emitted batches match that declared schema (pyspark 4.1.2 happens
    to accept either type on mapInArrow output)."""
    import pyarrow as pa
    P = _PercPlan(stored)

    def fn(it):
        str_t = pa.large_string() if large_var_types else pa.string()
        names_pa = pa.array(P.g_name, type=str_t)
        ent_pa = pa.array(P.g_entity, type=str_t)
        for rb in it:
            t_i = rb.schema.get_field_index(text_col)
            fields = ([rb.schema.field(rb.schema.get_field_index(c))
                       for c in id_cols] +
                      [pa.field("entity_id", str_t),
                       pa.field("score", pa.float64()),
                       pa.field("matched_names", pa.list_(str_t))])
            schema = pa.schema(fields)
            for lo in range(0, rb.num_rows, CHUNK_DOCS):
                chunk = rb.slice(lo, CHUNK_DOCS)
                hit = _percolate_chunk(
                    P, chunk.column(t_i).to_pandas(), slop)
                if hit is None:
                    continue
                m_doc_grp, ent_idx, scores, m_gid, grp = hit
                doc_take = pa.array(m_doc_grp)
                cols = [chunk.column(chunk.schema.get_field_index(c))
                        .take(doc_take) for c in id_cols]
                cols.append(ent_pa.take(pa.array(ent_idx)))
                cols.append(pa.array(scores, type=pa.float64()))
                cols.append(pa.ListArray.from_arrays(
                    pa.array(np.r_[grp, m_gid.size].astype(np.int32)),
                    names_pa.take(pa.array(m_gid))))
                yield pa.RecordBatch.from_arrays(cols, schema=schema)

    return fn


def percolate_docs(docs: DataFrame, stored: list[StoredQuery],
                   id_cols: list[str] | None = None,
                   text_col: str = "content",
                   slop: int = DEFAULT_SLOP) -> DataFrame:
    """Percolate a batch or streaming docs DataFrame against a compiled
    watchlist → (doc ids..., entity_id, score, matched_names).

    One ``mapInArrow`` pass (:func:`_percolate_batch_arrow_fn`) analyzes
    each doc once. Trigger + verify are vectorized: every token is
    mapped to the clause entries it can fill through a term lookup
    table, then each phrase length class runs ONE composite-key
    searchsorted nearest-neighbor chain over every (doc, clause) pair
    at once — existence, not tf, is all percolation needs. No per-doc
    or per-clause Python in the hot path.

    Scale shape: the watchlist is driver-compiled and closure-broadcast
    (the reference caps percolator candidates per shard the same way);
    docs stream through in ≤ ``CHUNK_DOCS`` chunks with constant memory.
    A batch input is sized by its rows, ``CHUNK_DOCS`` per task
    (``ops.util.spread``); a streaming micro-batch keeps its source's
    splits.
    """
    id_cols = id_cols or ["repo", "path", "commit"]
    id_schema = ", ".join(
        f"{c} {docs.schema[c].dataType.simpleString()}" for c in id_cols)
    out_schema = (f"{id_schema}, entity_id string, score double, "
                  f"matched_names array<string>")
    src = spread(docs.select(*id_cols, text_col), CHUNK_DOCS)
    large = src.sparkSession.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes", "false")
    return src.mapInArrow(
        _percolate_batch_arrow_fn(stored, id_cols, text_col, slop,
                                  large.lower() == "true"),
        out_schema)


# ---------------------------------------------------------------------------
# stored percolator registry (reference index/indexes.py:119-124 persists
# one percolator query per entity in the index; here the compiled
# watchlist lives under <index>/percolator/ and is registered once)
# ---------------------------------------------------------------------------

_REG_SCHEMA = None  # built lazily (pyarrow import)


def _registry_schema():
    global _REG_SCHEMA
    if _REG_SCHEMA is None:
        import pyarrow as pa
        _REG_SCHEMA = pa.schema([
            ("entity_id", pa.string()),
            ("deleted", pa.bool_()),
            ("clauses", pa.list_(pa.struct([
                ("tokens", pa.list_(pa.string())),
                ("boost", pa.float64())]))),
        ])
    return _REG_SCHEMA


def _registry_batches(storage) -> list[str]:
    reg_dir = _registry_dir(storage)
    return sorted(n for n in storage.io.listdir(reg_dir)
                  if n.startswith("batch-") and n.endswith(".parquet"))


def _write_registry_batch(storage, rows: list[dict]) -> None:
    """Append one immutable, monotonically-numbered parquet batch —
    register/unregister are O(batch), never O(registry): the reference
    persists 156k percolator queries per index (indexes.py:119-124);
    a rewrite-the-world JSON blob would make every registration a full
    registry read+write and an unbounded driver allocation."""
    import pyarrow as pa
    reg_dir = _registry_dir(storage)
    storage.io.mkdirs(reg_dir)
    existing = _registry_batches(storage)
    seq = (int(existing[-1].split("-")[1].split(".")[0]) + 1
           if existing else 0)
    tbl = pa.Table.from_pylist(rows, schema=_registry_schema())
    storage.io.write_parquet_atomic(
        tbl, os.path.join(reg_dir, f"batch-{seq:08d}.parquet"))


def register_watchlist(storage, rows: list[dict],
                       single_token_min_length: int =
                       SINGLE_TOKEN_MIN_LENGTH) -> int:
    """Compile and PERSIST watchlist entities into the index directory
    (register once, percolate many times). Re-registering an entity_id
    replaces its stored query (later batch wins at load time).
    → number of stored queries written."""
    compiled = compile_watchlist(rows, single_token_min_length)
    if compiled:
        _write_registry_batch(storage, [
            {"entity_id": sq.entity_id, "deleted": False,
             "clauses": [{"tokens": list(toks), "boost": float(boost)}
                         for toks, boost in sq.clauses]}
            for sq in compiled])
    return len(compiled)


def unregister_watchlist(storage, entity_ids: list[str]) -> int:
    """Tombstone batch: the ids disappear at load time."""
    if entity_ids:
        _write_registry_batch(storage, [
            {"entity_id": str(e), "deleted": True, "clauses": []}
            for e in entity_ids])
    return len(load_watchlist(storage))


def compact_registry(storage) -> int:
    """Fold the append-only registry (every register/unregister batch)
    into ONE batch holding the last-wins survivors — keeps load time
    O(live queries) after heavy registration churn (the reference
    holds 156k percolator queries; unbounded batch accumulation would
    make every load a history replay). Readers racing the compaction
    see a batch set whose last-wins result is identical at every
    intermediate state: the folded batch (highest seq) lands first,
    then the old batches are deleted.

    Single-writer assumption: compaction must not run concurrently
    with register/unregister — both allocate the next batch seq from a
    directory listing, so a concurrent registration could collide with
    the folded batch's seq and be silently overwritten. Serialize
    registry WRITES externally (reads are always safe).
    → number of live stored queries kept."""
    stored = load_watchlist(storage)
    reg_dir = _registry_dir(storage)
    old = _registry_batches(storage)
    _write_registry_batch(storage, [
        {"entity_id": sq.entity_id, "deleted": False,
         "clauses": [{"tokens": list(toks), "boost": float(boost)}
                     for toks, boost in sq.clauses]}
        for sq in stored])
    for name in old:
        storage.io.delete_file(os.path.join(reg_dir, name))
    return len(stored)


def load_watchlist(storage) -> list[StoredQuery]:
    reg_dir = _registry_dir(storage)
    by_id: dict[str, StoredQuery | None] = {}
    for name in _registry_batches(storage):  # ascending seq: later wins
        tbl = storage.io.read_parquet(os.path.join(reg_dir, name))
        for r in tbl.to_pylist():
            if r["deleted"]:
                by_id[r["entity_id"]] = None
            else:
                by_id[r["entity_id"]] = StoredQuery(
                    r["entity_id"],
                    [(list(c["tokens"]), float(c["boost"]))
                     for c in r["clauses"]])
    return [sq for _, sq in sorted(by_id.items()) if sq is not None]


def percolate_index(storage, docs: DataFrame,
                    id_cols: list[str] | None = None,
                    text_col: str = "content",
                    slop: int = DEFAULT_SLOP) -> DataFrame:
    """Percolate against the index's REGISTERED watchlist."""
    return percolate_docs(docs, load_watchlist(storage),
                          id_cols=id_cols, text_col=text_col, slop=slop)


def _registry_dir(storage) -> str:
    return os.path.join(storage.root, "percolator")


def mentions_tree(names: list[str], slop: int = DEFAULT_SLOP,
                  single_token_min_length: int = SINGLE_TOKEN_MIN_LENGTH
                  ) -> Bool | None:
    """Q19: index-side mentions query — phrase shoulds over the
    entity's cleaned names (runs through the normal executor, using
    stored positions)."""
    clauses = []
    for toks in _budgeted_names(names, single_token_min_length):
        if len(clauses) >= MAX_CLAUSES:
            break
        if len(toks) == 1:
            clauses.append(TermLeaf(toks[0]))
        else:
            clauses.append(PhraseLeaf(toks, slop=slop))
    return Bool(should=clauses) if clauses else None


def mentions_query(engine, names: list[str], k: int = 10,
                   slop: int = DEFAULT_SLOP) -> DataFrame:
    """Q19: the global top-k live docs mentioning any of ``names``."""
    tree = mentions_tree(names, slop)
    if tree is None:
        return engine.spark.createDataFrame([], "doc_id long, score double")
    return engine.executor.topk(tree, k, MetaSpec())


def multi_mentions(engine, entities: dict[str, list[str]], k: int = 10,
                   slop: int = DEFAULT_SLOP) -> DataFrame:
    """Per-entity attribution in ONE scatter pass: every entity's phrase
    tree is evaluated in the same groups (shared postings scan +
    per-term decode cache), and the gathered rows are cut to each
    entity's top-k live docs in pandas — a plan of one group runs no
    Spark job. The previous shape — one topk() plan per entity unioned
    together — was a driver/planner explosion at the reference's
    10k-entity cap (query/mentions.py:76-130)."""
    trees = {}
    for eid, names in sorted(entities.items()):
        tree = mentions_tree(names, slop)
        if tree is not None:
            trees[eid] = tree
    if not trees:
        return engine.spark.createDataFrame(
            [], "doc_id long, score double, entity_id string")
    return engine.executor.run_multi(trees, k, MetaSpec())
