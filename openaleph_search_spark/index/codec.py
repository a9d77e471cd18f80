"""Posting-block codec: delta + varint (PForDelta-style) compression.

Implements the physical posting format the reference delegates to
Lucene (implicit; configured at
/root/reference/openaleph_search/index/mapping.py:204-212, Lucene
FOR/PForDelta blocks of 128 with impacts).  Everything here is pure
numpy — it runs inside Arrow-batched ``applyInPandas`` groups on
executors; no per-row Python.

Block layout (one row of the ``postings`` table per block):

    term            string   the token
    shard           int      doc-id-range shard (contiguous docid span)
    block_ord       int      ordinal of the block within (term, shard)
    first_doc       long     smallest doc_id in the block
    last_doc        long     largest doc_id in the block
    doc_count       int      number of docs in the block (<= BLOCK_SIZE)
    sum_tf          long     sum of term freqs (collection-freq partial)
    max_tf          int      max term freq in the block
    min_dl          long     smallest doc length in the block — the
                             query-time impact upper bound is computed
                             LIVE as max_tf/(max_tf+k1*(1-b+b*min_dl/avgdl))
                             (true under ANY collection stats, so appends
                             and compactions never invalidate pruning)
    docs_payload    binary   varint(delta(doc_ids))   (first absolute)
    tfs_payload     binary   varint(tf - 1)
    dls_payload     binary   varint(dl)               (doc lengths)
    pos_payload     binary   varint positions, delta within doc, tf per doc
                             (empty when positions disabled)
"""
from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

# BM25 defaults pinned by the reference/north rule (Lucene defaults;
# /root/reference/openaleph_search/index/util.py:83-90 overrides b only
# for the `name` field — our single-field code corpus uses the defaults).
K1 = 1.2
B = 0.75


# ---------------------------------------------------------------------------
# vectorized varint (LEB128) encode / decode
# ---------------------------------------------------------------------------

_SHIFTS = np.arange(1, 10, dtype=np.uint64) * np.uint64(7)
_THRESH = (np.uint64(1) << _SHIFTS).astype(np.uint64)  # 2^7, 2^14, ... 2^63


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    n = arr.shape[0]
    if n == 0:
        return b""
    if arr.max() < 128:  # common fast path: every value is one byte
        return arr.astype(np.uint8).tobytes()
    # bytes needed per value: 1 + count of thresholds <= value
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESH:
        nbytes += arr >= t
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nbytes > j
        if not mask.any():
            break
        idx = starts[mask] + j
        chunk = (arr[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 byte buffer into a uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_terminal = (b & 0x80) == 0
    if is_terminal.all():  # 1-byte fast path
        return b.astype(np.uint64)
    # group id per byte = number of terminals strictly before it
    gid = np.zeros(b.size, dtype=np.int64)
    np.cumsum(is_terminal[:-1], out=gid[1:])
    # first byte index of each group
    group_starts = np.flatnonzero(np.diff(gid, prepend=-1))
    offset_in_group = np.arange(b.size, dtype=np.int64) - group_starts[gid]
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        offset_in_group.astype(np.uint64) * np.uint64(7)
    )
    return np.bitwise_or.reduceat(contrib, group_starts)


# ---------------------------------------------------------------------------
# posting-list block encode / decode
# ---------------------------------------------------------------------------

def bm25_tfnorm(tf: np.ndarray, dl: np.ndarray, avgdl: float,
                k1: float = K1, b: float = B) -> np.ndarray:
    """Lucene BM25 tf' = tf / (tf + k1*(1 - b + b*dl/avgdl))."""
    tf = tf.astype(np.float64)
    norm = k1 * (1.0 - b + b * dl.astype(np.float64) / float(avgdl))
    return tf / (tf + norm)


def bm25_idf(df: np.ndarray | float, n_docs: float) -> np.ndarray | float:
    """Lucene BM25 idf = ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return np.log(1.0 + (n_docs - df + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def encode_positions(positions: list[np.ndarray]) -> bytes:
    """Delta-encode per-doc position arrays, concatenated.

    The per-doc count equals tf (already stored), so no length prefix.
    """
    if not positions:
        return b""
    flat = []
    for p in positions:
        p = np.asarray(p, dtype=np.uint64)
        d = np.empty_like(p)
        if p.size:
            d[0] = p[0]
            np.subtract(p[1:], p[:-1], out=d[1:])
        flat.append(d)
    return varint_encode(np.concatenate(flat))


def varint_encode_sliced(values: np.ndarray,
                         group_starts: np.ndarray) -> list[bytes]:
    """One vectorized varint pass over ``values``, returned as one byte
    chunk per group (the chunks concatenate to ``varint_encode``'s
    output). The workhorse behind per-doc position payloads and per-
    block payload slicing — avoids per-small-array encoder calls."""
    n = values.shape[0]
    if n == 0:
        return []
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.max() < 128:  # 1-byte fast path: byte offsets == value offsets
        buf = v.astype(np.uint8).tobytes()
        bounds = list(group_starts) + [n]
        return [buf[bounds[i]:bounds[i + 1]]
                for i in range(len(bounds) - 1)]
    buf = varint_encode(v)
    nbytes = np.ones(n, dtype=np.int64)
    for t in _THRESH:
        nbytes += v >= t
    ends = np.cumsum(nbytes)
    starts_b = np.concatenate([[0], ends[:-1]])
    bounds = list(starts_b[group_starts]) + [int(ends[-1])]
    return [buf[bounds[i]:bounds[i + 1]] for i in range(len(bounds) - 1)]


def delta_restarting(values: np.ndarray,
                     group_starts: np.ndarray) -> np.ndarray:
    """Delta-encode with the delta restarting (absolute value) at each
    group head."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    d = np.empty_like(v)
    if v.size:
        d[0] = v[0]
        np.subtract(v[1:], v[:-1], out=d[1:])
        d[group_starts] = v[group_starts]
    return d


def encode_positions_grouped(flat_positions: np.ndarray,
                             group_starts: np.ndarray) -> list[bytes]:
    """Vectorized per-group positions encoding: delta within each group,
    one varint byte-chunk per group — so SPIMI can pre-encode per
    (term, doc) and the merge stage just joins bytes (the shuffle then
    carries compressed binary, not int arrays)."""
    if flat_positions.shape[0] == 0:
        return []
    d = delta_restarting(flat_positions, group_starts)
    return varint_encode_sliced(d, group_starts)


def decode_positions(buf: bytes, tfs: np.ndarray) -> list[np.ndarray]:
    """Inverse of :func:`encode_positions`; splits by tf counts."""
    flat = varint_decode(buf)
    out: list[np.ndarray] = []
    off = 0
    for tf in tfs:
        tf = int(tf)
        d = flat[off:off + tf]
        out.append(np.cumsum(d, dtype=np.uint64))
        off += tf
    return out


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  avgdl: float | None,
                  positions: list[np.ndarray] | None = None,
                  pos_payloads: list[bytes] | None = None,
                  block_size: int = BLOCK_SIZE) -> list[dict]:
    """Split one (term, shard) posting list into compressed block rows.

    ``doc_ids`` must be sorted ascending and unique.  Positions can be
    given either as raw per-doc arrays (``positions``) or as per-doc
    pre-encoded varint chunks (``pos_payloads``, the SPIMI fast path —
    the merge then only concatenates bytes).  Returns a list of dicts
    matching the postings-table block columns (minus term/shard, which
    the caller adds).
    """
    n = doc_ids.shape[0]
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.uint64)
    tfs = np.ascontiguousarray(tfs, dtype=np.uint64)
    dls = np.ascontiguousarray(dls, dtype=np.uint64)
    if positions is not None and pos_payloads is None:
        pos_payloads = [encode_positions([p]) for p in positions]
    block_starts = np.arange(0, n, block_size, dtype=np.int64)
    block_ends = np.minimum(block_starts + block_size, n)
    # ONE vectorized varint pass per payload type, sliced per block
    docs_chunks = varint_encode_sliced(
        delta_restarting(doc_ids, block_starts), block_starts)
    tfs_chunks = varint_encode_sliced(tfs - np.uint64(1), block_starts)
    dls_chunks = varint_encode_sliced(dls, block_starts)
    sums = np.add.reduceat(tfs.astype(np.int64), block_starts)
    maxs = np.maximum.reduceat(tfs.astype(np.int64), block_starts)
    mins_dl = np.minimum.reduceat(dls.astype(np.int64), block_starts)
    if avgdl is not None:
        # avgdl=None → SPIMI first pass: the impact bound is filled in
        # by the merge once global stats exist (build.py step B)
        tfn_max = np.maximum.reduceat(
            bm25_tfnorm(tfs, dls, avgdl), block_starts)
    else:
        tfn_max = np.zeros(block_starts.size)
    blocks = []
    for ord_, (lo, hi) in enumerate(zip(block_starts, block_ends)):
        blocks.append({
            "block_ord": ord_,
            "first_doc": int(doc_ids[lo]),
            "last_doc": int(doc_ids[hi - 1]),
            "doc_count": int(hi - lo),
            "sum_tf": int(sums[ord_]),
            "max_tf": int(maxs[ord_]),
            "min_dl": int(mins_dl[ord_]),
            "block_max_tfnorm": float(tfn_max[ord_]),
            "docs_payload": docs_chunks[ord_],
            "tfs_payload": tfs_chunks[ord_],
            "dls_payload": dls_chunks[ord_],
            "pos_payload": (b"".join(pos_payloads[lo:hi])
                            if pos_payloads is not None else b""),
        })
    return blocks


def drop_docs(docs_payloads: list[bytes], tfs_payloads: list[bytes],
              dls_payloads: list[bytes], pos_payloads: list[bytes],
              doc_counts: np.ndarray, dead: np.ndarray,
              with_positions: bool) -> tuple[np.ndarray, dict]:
    """Drop the doc ids in ``dead`` (sorted int64) from packed block rows.

    One concatenated varint decode per payload covers every block; the
    dead docs are masked, whole per-doc position runs go with them
    (``np.repeat(keep, tf)``), and the surviving docs are re-encoded
    per block with the build's ``delta_restarting`` +
    ``varint_encode_sliced``. → (``kept``: input row index of every
    block that keeps ≥ 1 doc, its rebuilt block columns)."""
    counts = np.asarray(doc_counts, dtype=np.int64)
    heads = np.cumsum(counts) - counts
    deltas = varint_decode(b"".join(docs_payloads))
    # a running sum across blocks may wrap in uint64; differences
    # within a block stay exact under modular arithmetic
    run = np.cumsum(deltas, dtype=np.uint64)
    docs = run - np.repeat(run[heads] - deltas[heads], counts)
    tfs = varint_decode(b"".join(tfs_payloads)) + np.uint64(1)
    dls = varint_decode(b"".join(dls_payloads))
    keep = ~np.isin(docs.astype(np.int64), dead)
    new_counts = np.bincount(
        np.repeat(np.arange(counts.size), counts)[keep],
        minlength=counts.size)
    kept = np.flatnonzero(new_counts)
    c = new_counts[kept]
    d, t, l = docs[keep], tfs[keep], dls[keep]
    lo = np.cumsum(c) - c
    cols = {
        "first_doc": d[lo].astype(np.int64),
        "last_doc": d[lo + c - 1].astype(np.int64),
        "doc_count": c.astype(np.int32),
        "sum_tf": np.add.reduceat(t, lo).astype(np.int64),
        "max_tf": np.maximum.reduceat(t, lo).astype(np.int32),
        "min_dl": np.minimum.reduceat(l, lo).astype(np.int64),
        "docs_payload": varint_encode_sliced(delta_restarting(d, lo), lo),
        "tfs_payload": varint_encode_sliced(t - np.uint64(1), lo),
        "dls_payload": varint_encode_sliced(l, lo),
    }
    if with_positions:
        # positions are delta-coded within each doc, so the kept runs
        # re-encode to their original bytes
        pos = varint_decode(b"".join(pos_payloads))
        pos_lo = (np.cumsum(t) - t)[lo].astype(np.int64)
        cols["pos_payload"] = varint_encode_sliced(
            pos[np.repeat(keep, tfs.astype(np.int64))], pos_lo)
    else:
        cols["pos_payload"] = [b""] * kept.size
    return kept, cols


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block row → (doc_ids, tfs, dls) as uint64 arrays."""
    deltas = varint_decode(row["docs_payload"])
    doc_ids = np.cumsum(deltas, dtype=np.uint64)
    tfs = varint_decode(row["tfs_payload"]) + np.uint64(1)
    dls = varint_decode(row["dls_payload"])
    return doc_ids, tfs, dls
