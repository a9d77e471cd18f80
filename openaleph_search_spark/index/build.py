"""SPIMI inverted-index build over a source-code document table.

Spark-first re-expression of what the reference delegates to
Elasticsearch at bulk-index time (analysis + inverted index + postings
compression; /root/reference/openaleph_search/index/indexer.py:54-178
drives it, Lucene executes it).  Pipeline:

  docs(repo, path, commit, lang, content)
    │  F.sha2(content) / deterministic src_part (JVM-side)
    ├─ groupBy(src_part).applyInPandas(SPIMI)          ── scatter
    │     tokenize (vectorized analyzer) → per-partition PACKED posting
    │     blocks (≤128 docs, delta+varint docs/tfs/dls/positions)
    │     write the part's postings run (term-sorted, the final
    │     layout: shard = src_part mod S is constant per task)
    │     + doc_meta + field_lens + per-field (docs, tokens) partial
    │     commit the part's manifest, last  ← per-partition checkpoint
    ├─ global stats (N, avgdl) summed from the live parts' partials
    └─ term_stats: df/cf summed by term over the live parts' block
       stats (a projected read of term, doc_count, sum_tf)

Scale properties (designed for 1000-executor / 100 TB):

* Doc ids are ``(src_part << 33) | row_in_partition`` with rows sorted
  by (repo, path, commit) — deterministic, monotone, no global count
  pass, no driver materialization (SURVEY.md §7.0.2).
* **The merge shuffle moves packed binary blocks, not postings**: SPIMI
  emits one row per (term, ≤128-doc block), so shuffle row count is
  ~|postings|/128 and each row is already compressed. A hot term
  (``the``, ``def``, ``license``) is emitted from every source
  partition independently — doc-range sharding makes the classic
  hot-term salting structural rather than a special case (SURVEY.md
  §7.0.6): no reducer ever sees more than one partition's share of a
  term without wanting to.
* Blocks of one (term, shard) never overlap in doc range across source
  partitions (ids are partition-prefixed), so the "merge" is a sort by
  (term, first_doc) — no re-encoding, no posting-level merge sort.
* Resumability: each source partition commits its run atomically
  (parquet first, manifest JSON last); a re-run prunes completed
  partitions driver-side and step B overwrites idempotently
  (north_rule checkpoint + lineage + per-task metrics).
"""
from __future__ import annotations

import os
import json
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..analysis.analyzer import tokenize_flat
from .codec import (BLOCK_SIZE, K1, B, delta_restarting,
                    encode_positions_grouped, varint_encode_sliced)
from .storage import IndexStorage

DOC_ID_PART_SHIFT = 33  # doc_id = (src_part << 33) | local_row
LAYOUT_VERSION = 8  # bump on any physical-layout / shard-map change
FIELD_SEP = "\x1f"  # term-dictionary field prefix: "path\x1ffoo"
DEFAULT_FIELDS = {"path": "path", "repo": "repo", "lang": "lang"}
BIGRAM_FIELD = "_bi"  # T16 index_phrases shingles (phrase fast path)
TARGET_DOCS_PER_PARTITION = 2500  # auto-sizing cap (see build_index)

DOC_META_SCHEMA = ("doc_id long, repo string, path string, commit string, "
                   "lang string, content_sha256 string, doc_len int, "
                   "src_part int")
MANIFEST_SCHEMA = ("src_part int, status string, docs long, postings long, "
                   "tokens long, seconds double, attempt int")
_BLOCK_COLS = ["term", "first_doc", "last_doc", "doc_count",
               "sum_tf", "max_tf", "min_dl", "docs_payload",
               "tfs_payload", "dls_payload", "pos_payload"]


def doc_meta_schema(docs: DataFrame, meta_cols: list[str]) -> StructType:
    """doc_meta's Spark schema: DOC_META_SCHEMA, then each meta column
    with the docs table's own type. Stored in meta.json, so every
    reader opens doc_meta without an inference job, and every writer
    casts to it."""
    schema = StructType.fromDDL(DOC_META_SCHEMA)
    for c in meta_cols:
        if c not in schema.names:
            schema.add(c, docs.schema[c].dataType, nullable=True)
    return schema


def _cast_doc_meta(tbl, schema, tz: str):
    """A part's doc_meta table cast to the stored schema, so a column
    that is all null in this part (pandas gives it no type) or whose
    pandas dtype drifted (ints with nulls turn float) keeps its type.
    Naive timestamps that belong to a zoned column are session-local
    wall times (pandas UDF input), so they are placed in ``tz`` first."""
    import pyarrow as pa
    import pyarrow.compute as pc
    cols = []
    for f in schema:
        col = tbl.column(f.name)
        if (pa.types.is_timestamp(f.type) and f.type.tz
                and pa.types.is_timestamp(col.type) and not col.type.tz):
            col = pc.assume_timezone(col, tz, ambiguous="earliest",
                                     nonexistent="earliest")
        cols.append(col.cast(f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _spimi_writer(storage: IndexStorage, with_positions: bool, attempt: int,
                  fields: dict[str, str] | None = None,
                  bigrams: bool = False,
                  meta_cols: list[str] | None = None, *,
                  meta_schema: StructType, tz: str, epoch: int = -1):
    """Grouped-map fn: one source partition → packed block run +
    doc_meta + atomic manifest checkpoint. ``append_batch`` runs the
    same fn in the driver for a batch that fits one part, and records
    its streaming ``epoch`` in the manifest (-1: not a stream batch).

    ``fields`` maps extra indexed field names → source columns; their
    terms are stored as ``field␟token`` (FIELD_SEP) with per-field
    lengths, so BM25 norms are per-field like Lucene. ``content`` is
    the unprefixed default field. ``meta_cols`` are UNANALYZED
    passthrough columns stored in doc_meta (filter/sort/facet targets —
    the ES stored-field role for typed metadata like timestamps);
    doc_meta is written with ``meta_schema`` (the stored
    ``doc_meta_schema``), ``tz`` being the session time zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    fields = fields or {}
    meta_cols = meta_cols or []
    meta_arrow = to_arrow_schema(meta_schema)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # one executor thread per task is the concurrency model here;
        # Arrow's global CPU pool otherwise defaults to ALL cores in
        # EVERY worker (32 tasks x 32-thread pools oversubscribes the
        # box and inflates per-task time under full parallelism).
        # Scoped to this build task: Python workers are REUSED across
        # jobs, so a sticky global cap would throttle any later Arrow
        # compute (query-path UDFs) sharing the worker — restore on
        # the way out.
        prev_cpu, prev_io = pa.cpu_count(), pa.io_thread_count()
        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
        try:
            return _fn(pdf)
        finally:
            pa.set_cpu_count(prev_cpu)
            pa.set_io_thread_count(prev_io)

    def _fn(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.time()
        src_part = int(pdf["src_part"].iloc[0])
        pdf = pdf.sort_values(["repo", "path", "commit"], kind="mergesort")
        pdf = pdf.reset_index(drop=True)
        n = len(pdf)
        doc_ids = (np.int64(src_part) << DOC_ID_PART_SHIFT) + np.arange(
            n, dtype=np.int64)

        row_idx, terms, positions = tokenize_flat(pdf["content"])
        content_dl = np.zeros(n, dtype=np.int32)
        if row_idx.size:
            np.maximum.at(content_dl, row_idx,
                          (positions + 1).astype(np.int32))
        # All per-token work runs on INT CODES: each part (content,
        # fields, bigrams) factorizes locally, field prefixes attach to
        # the (small) unique sets only, and one vocabulary argsort
        # replaces the global per-token string factorize/concat — the
        # string ops were the scatter pass's memory-bandwidth hot spot.
        c_codes, c_uniq = pd.factorize(terms, sort=False)
        c_uniq = np.asarray(c_uniq, dtype=object)
        code_parts = [c_codes.astype(np.int64)]
        uniq_parts = [c_uniq]
        offset = len(c_uniq)
        # per-token dl = its own field's length (Lucene per-field norms)
        dl_tok_parts = [content_dl[row_idx]]
        row_parts, pos_parts = [row_idx], [positions]
        # avgdl denominator = ALL docs (our pinned convention, matching
        # the golden oracles; Lucene divides by docs-with-field)
        field_stats = {"content": (n, int(content_dl.sum()))}
        field_len_cols: list[tuple[str, np.ndarray]] = [
            ("content", content_dl)]
        for fname, fcol in sorted(fields.items()):
            f_row, f_terms, f_pos = tokenize_flat(pdf[fcol])
            f_dl = np.zeros(n, dtype=np.int32)
            if f_row.size:
                np.maximum.at(f_dl, f_row, (f_pos + 1).astype(np.int32))
            f_codes, f_uniq = pd.factorize(f_terms, sort=False)
            row_parts.append(f_row)
            code_parts.append(f_codes.astype(np.int64) + offset)
            uniq_parts.append(np.array(
                [f"{fname}{FIELD_SEP}{u}" for u in f_uniq], dtype=object))
            offset += len(f_uniq)
            pos_parts.append(f_pos)
            dl_tok_parts.append(f_dl[f_row])
            field_stats[fname] = (n, int(f_dl.sum()))
            field_len_cols.append((fname, f_dl))
        if bigrams and row_idx.size:
            # T16 index_phrases: 2-gram shingles of content as their
            # own field (the phrase fast path; mapping.py:208).
            # Adjacent same-doc tokens only — built from content CODES
            # (int keys), strings materialized per unique bigram only.
            adj = ((row_idx[1:] == row_idx[:-1])
                   & (positions[1:] == positions[:-1] + 1))
            V = np.int64(len(c_uniq))
            bi_key = (c_codes[:-1][adj].astype(np.int64) * V
                      + c_codes[1:][adj])
            bi_codes, bi_uniq_key = pd.factorize(bi_key, sort=False)
            left = (np.asarray(bi_uniq_key) // V).astype(np.int64)
            right = (np.asarray(bi_uniq_key) % V).astype(np.int64)
            uniq_parts.append(np.array(
                [f"{BIGRAM_FIELD}{FIELD_SEP}{c_uniq[a]} {c_uniq[b]}"
                 for a, b in zip(left, right)], dtype=object))
            bi_row = row_idx[:-1][adj]
            bi_pos = positions[:-1][adj]
            bi_dl = np.zeros(n, dtype=np.int32)
            if bi_row.size:
                np.maximum.at(bi_dl, bi_row, (bi_pos + 1).astype(np.int32))
            row_parts.append(bi_row)
            code_parts.append(bi_codes.astype(np.int64) + offset)
            offset += len(bi_uniq_key)
            pos_parts.append(bi_pos)
            dl_tok_parts.append(bi_dl[bi_row])
            field_stats[BIGRAM_FIELD] = (n, int(bi_dl.sum()))
            field_len_cols.append((BIGRAM_FIELD, bi_dl))
        elif bigrams:
            # a part with no tokens still counts its docs: the avgdl
            # denominator is every doc, however the docs are parted
            field_stats[BIGRAM_FIELD] = (n, 0)
        row_idx = np.concatenate(row_parts)
        positions = np.concatenate(pos_parts)
        dl_tok = np.concatenate(dl_tok_parts).astype(np.int64)

        run = pd.DataFrame({c: [] for c in _BLOCK_COLS})
        dl_per_doc = content_dl
        if row_idx.size:
            # one vocabulary-sized argsort gives the SAME sorted codes
            # the old global pd.factorize(sort=True) produced (parts
            # never share terms — field prefixes are distinct)
            raw_codes = np.concatenate(code_parts)
            uniq_all = np.concatenate(uniq_parts)
            vorder = np.argsort(uniq_all)
            rank = np.empty(vorder.size, dtype=np.int64)
            rank[vorder] = np.arange(vorder.size, dtype=np.int64)
            codes = rank[raw_codes]
            uniq = uniq_all[vorder]
            # (doc, term) aggregation: sort by (row, code, pos), run-length
            order = np.lexsort((positions, codes, row_idx))
            r = row_idx[order]
            c = codes[order]
            p = positions[order]
            new_grp = np.empty(r.size, dtype=bool)
            new_grp[0] = True
            new_grp[1:] = (r[1:] != r[:-1]) | (c[1:] != c[:-1])
            starts = np.flatnonzero(new_grp)
            tfs = np.diff(np.append(starts, r.size)).astype(np.int64)
            g_row = r[starts]
            g_code = c[starts]
            g_dl_all = dl_tok[order][starts]  # per-field length (norms)
            pos_payloads = (
                np.array(encode_positions_grouped(p, starts), dtype=object)
                if with_positions else None)
            # term-major resort → per-term posting slices (docs ascend)
            order2 = np.lexsort((g_row, g_code))
            g_code = g_code[order2]
            g_doc = doc_ids[g_row[order2]]
            g_tf = tfs[order2]
            g_dl = g_dl_all[order2]
            if pos_payloads is not None:
                pos_payloads = pos_payloads[order2]
            t_bounds = np.flatnonzero(
                np.r_[True, g_code[1:] != g_code[:-1]])
            t_ends = np.r_[t_bounds[1:], g_code.size]
            uniq_arr = np.asarray(uniq, dtype=object)
            # ALL terms' blocks in single vectorized passes (the old
            # per-term encode_blocks loop spent ~60µs of call overhead
            # per term): global block boundaries, one delta pass
            # restarting at every block head, one varint pass per
            # payload type sliced per block, reduceat for the stats
            lens = t_ends - t_bounds
            nblk = (lens + BLOCK_SIZE - 1) // BLOCK_SIZE
            tot = int(nblk.sum())
            term_of = np.repeat(np.arange(t_bounds.size), nblk)
            base = np.repeat(np.cumsum(nblk) - nblk, nblk)
            within = np.arange(tot, dtype=np.int64) - base
            blk_lo = t_bounds[term_of] + within * BLOCK_SIZE
            blk_hi = np.minimum(blk_lo + BLOCK_SIZE, t_ends[term_of])
            g_doc_u = g_doc.astype(np.uint64)
            g_tf_u = g_tf.astype(np.uint64)
            docs_chunks = varint_encode_sliced(
                delta_restarting(g_doc_u, blk_lo), blk_lo)
            tfs_chunks = varint_encode_sliced(g_tf_u - np.uint64(1),
                                              blk_lo)
            dls_chunks = varint_encode_sliced(g_dl.astype(np.uint64),
                                              blk_lo)
            sums = np.add.reduceat(g_tf, blk_lo)
            maxs = np.maximum.reduceat(g_tf, blk_lo)
            mins_dl = np.minimum.reduceat(g_dl, blk_lo)
            run = pd.DataFrame({
                "term": uniq_arr[g_code[blk_lo]],
                "first_doc": g_doc[blk_lo],
                "last_doc": g_doc[blk_hi - 1],
                "doc_count": (blk_hi - blk_lo).astype(np.int32),
                "sum_tf": sums.astype(np.int64),
                "max_tf": maxs.astype(np.int32),
                "min_dl": mins_dl.astype(np.int64),
                "docs_payload": docs_chunks,
                "tfs_payload": tfs_chunks,
                "dls_payload": dls_chunks,
                "pos_payload": (
                    [b"".join(pos_payloads[lo:hi])
                     for lo, hi in zip(blk_lo, blk_hi)]
                    if pos_payloads is not None else [b""] * tot),
            }, columns=_BLOCK_COLS)

        meta = pd.DataFrame({
            "doc_id": doc_ids,
            "repo": pdf["repo"],
            "path": pdf["path"],
            "commit": pdf["commit"],
            "lang": pdf["lang"],
            "content_sha256": pdf["content_sha256"],
            "doc_len": dl_per_doc,
            "src_part": np.full(n, src_part, dtype=np.int32),
            **{c: pdf[c] for c in meta_cols},
        })

        # all direct writes go through storage.io (pyarrow.fs): works on
        # object stores / HDFS, atomic under speculative task attempts
        path = {t: storage.part_path(t, src_part) for t in
                ("postings", "doc_meta", "field_lens", "fields",
                 "manifest")}
        for d in {os.path.dirname(v) for v in path.values()}:
            storage.io.mkdirs(d)
        # the task writes its run STRAIGHT into its final postings
        # file, term-sorted for rowgroup pruning
        run = run.sort_values(["term", "first_doc"], kind="mergesort",
                              ignore_index=True)
        run_schema = pa.schema([
            ("term", pa.string()),
            ("first_doc", pa.int64()), ("last_doc", pa.int64()),
            ("doc_count", pa.int32()), ("sum_tf", pa.int64()),
            ("max_tf", pa.int32()), ("min_dl", pa.int64()),
            ("docs_payload", pa.binary()), ("tfs_payload", pa.binary()),
            ("dls_payload", pa.binary()), ("pos_payload", pa.binary()),
        ])
        storage.io.write_parquet_atomic(
            pa.Table.from_pandas(run, schema=run_schema,
                                 preserve_index=False),
            path["postings"])
        storage.io.write_parquet_atomic(
            _cast_doc_meta(pa.Table.from_pandas(meta, preserve_index=False),
                           meta_arrow, tz),
            path["doc_meta"])
        # per-doc per-field lengths (long format, zero rows skipped):
        # compact() needs these to recompute exact per-field avgdl
        # after deletes (the json partials below are pre-delete sums)
        fl_ids, fl_fields, fl_dls = [], [], []
        for fname, dl_arr in field_len_cols:
            nz = np.flatnonzero(dl_arr)
            fl_ids.append(doc_ids[nz])
            fl_fields.append(np.full(nz.size, fname, dtype=object))
            fl_dls.append(dl_arr[nz])
        fl = pd.DataFrame({
            "doc_id": (np.concatenate(fl_ids) if fl_ids
                       else np.empty(0, np.int64)),
            "field": (np.concatenate(fl_fields) if fl_fields
                      else np.empty(0, object)),
            "dl": (np.concatenate(fl_dls).astype(np.int32) if fl_dls
                   else np.empty(0, np.int32)),
        })
        storage.io.write_parquet_atomic(
            pa.Table.from_pandas(fl, preserve_index=False,
                                 schema=pa.schema([
                                     ("doc_id", pa.int64()),
                                     ("field", pa.string()),
                                     ("dl", pa.int32())])),
            path["field_lens"])
        # per-field (docs, tokens) partials → global per-field avgdl
        storage.io.write_bytes_atomic(
            path["fields"], json.dumps(field_stats).encode())

        row = {
            "src_part": src_part, "status": "done", "docs": n,
            "postings": len(run), "tokens": int(dl_per_doc.sum()),
            "seconds": time.time() - t0, "attempt": attempt,
        }
        # JSON manifest written LAST = the atomic per-partition commit.
        storage.io.write_bytes_atomic(
            path["manifest"], json.dumps({**row, "epoch": epoch}).encode())
        return pd.DataFrame([row])

    return fn


def field_of_term(term: str) -> str:
    i = term.find(FIELD_SEP)
    return term[:i] if i >= 0 else "content"


def build_index(spark: SparkSession, docs: DataFrame, index_dir: str,
                num_partitions: int | None = None, num_shards: int = 8,
                with_positions: bool = True, resume: bool = True,
                attempt: int = 1,
                fields: dict[str, str] | None = None,
                bigrams: bool = False,
                meta_cols: list[str] | None = None,
                b_by_field: dict[str, float] | None = None,
                phase_log: dict | None = None,
                num_tasks: int | None = None,
                ) -> IndexStorage:
    """Build (or resume) the inverted index for a docs table.

    ``docs`` must have columns (repo, path, commit, lang, content) —
    the BASELINE.json ``input_hint`` shape. ``fields`` adds extra
    indexed fields (name → source column); default: path/repo/lang
    (the reference's multi-field model, queries.py:112-118).
    ``meta_cols`` are unanalyzed typed columns (dates, numbers) stored
    in doc_meta for filter/range/sort/facet use (ES doc_values role).
    ``b_by_field`` overrides the BM25 length-normalization ``b`` per
    field (the reference pins ``weak_length_norm`` b=0.25 on the name
    field — openaleph_search/index/util.py:83-90, mapping.py:227);
    fields not listed use the global ``B``. Pure query-time scoring
    config: stored in meta.json only, so no LAYOUT_VERSION bump and
    appends/compaction are unaffected (impact bounds are live).
    """
    if fields is None:
        fields = DEFAULT_FIELDS
    ph = phase_log if phase_log is not None else {}
    _t = time.time()

    def _mark(name):
        nonlocal _t
        now = time.time()
        ph[name] = round(ph.get(name, 0.0) + (now - _t), 3)
        _t = now
    meta_cols = meta_cols or []
    b_by_field = {k: float(v) for k, v in (b_by_field or {}).items()}
    for fname, bv in b_by_field.items():
        if not 0.0 <= bv <= 1.0:
            raise ValueError(f"b_by_field[{fname!r}]={bv} outside [0,1]")
    storage = IndexStorage(index_dir, num_shards)
    sc_parallelism = spark.sparkContext.defaultParallelism
    if num_partitions is None:
        # bound docs per TASK, not tasks per core: oversized partitions
        # put every worker in the fresh-allocation memory regime and
        # collapse wide-SMP scaling (measured 3× build throughput at 32
        # threads going from 10k-doc to 2.5k-doc tasks); small tasks
        # also balance load and shrink the resume/checkpoint unit
        n = docs.count()
        num_partitions = max(sc_parallelism, 4,
                             -(-n // TARGET_DOCS_PER_PARTITION))
    P = num_partitions

    base_cols = ["repo", "path", "commit", "lang", "content"]
    extra = [c for c in {*fields.values(), *meta_cols}
             if c not in base_cols]
    prepared = docs.select(
        *base_cols, *extra,
        F.sha2(F.col("content"), 256).alias("content_sha256"),
        F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(P))
         .cast("int").alias("src_part"),
    )

    meta_schema = doc_meta_schema(prepared, meta_cols)
    done = storage.completed_partitions() if resume else {}
    if done:
        prepared = prepared.filter(~F.col("src_part").isin(list(done)))
    # the tables exist (and read as empty) even when no part is written
    for d in (storage.doc_meta_dir, storage.postings_dir,
              storage.field_lens_dir):
        storage.io.mkdirs(d)
    _mark("setup")

    # ---- step A: SPIMI packed-block runs, checkpointed per partition ----
    # shard = src_part mod S: stable under later appends (new parts get
    # ids above P and map into the same shard space); blocks within a
    # (term, shard) stay disjoint+sorted because doc ids are
    # partition-prefixed
    manifests = prepared.groupBy("src_part").applyInPandas(
        _spimi_writer(storage, with_positions, attempt, fields, bigrams,
                      meta_cols, meta_schema=meta_schema,
                      tz=spark.conf.get("spark.sql.session.timeZone")),
        MANIFEST_SCHEMA)
    # Pin this job's task granularity: AQE coalesces the grouped-map
    # shuffle by MAP-OUTPUT BYTES (text compresses ~4x, so the 64 MB
    # advisory target collapses hundreds of groups into a handful of
    # tasks — measured 5 tasks at local[4], i.e. a guaranteed straggler
    # wave), but the cost driver here is per-GROUP Python tokenize+
    # encode work, not bytes.  The other extreme (one group per task)
    # pays the per-Python-task fixed cost (worker handshake + Arrow
    # stream setup, ~50-150 ms) 256 times — measured ~35 s of pure
    # overhead at local[1].  The sweet spot packs a handful of groups
    # per task: enough tasks for wave balance (≥4 per core), few
    # enough that the ~0.3 s/group UDF work amortizes the task cost.
    # AQE is disabled for this job outright: partitioning is pinned, so
    # replanning only adds driver latency between the two stages.
    if num_tasks is None:
        num_tasks = min(P, max(32, 4 * sc_parallelism))
    conf = spark.conf
    pinned = {"spark.sql.shuffle.partitions": str(int(num_tasks)),
              "spark.sql.adaptive.enabled": "false"}
    saved = {}
    for k, v in pinned.items():
        try:
            saved[k] = conf.get(k)
        except Exception:
            saved[k] = None
        conf.set(k, v)
    try:
        manifests.collect()  # tiny: one row per partition
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    _mark("spimi_job")

    # no merge step: each task wrote its final postings file, and
    # blocks of one term stay doc-range disjoint across part files
    # (partition-prefixed doc ids). Impact bounds are computed LIVE at
    # query time from each block's (max_tf, min_dl), so no stats change
    # invalidates pruning.
    refresh_stats(spark, storage, {
        "num_partitions": P, "num_shards": num_shards,
        "block_size": BLOCK_SIZE, "k1": K1, "b": B,
        "b_by_field": b_by_field,
        "with_positions": with_positions,
        "fields": sorted(["content", *fields]),
        "field_map": fields,
        "meta_cols": meta_cols,
        "doc_meta_schema": meta_schema.jsonValue(),
        "bigrams": bigrams,
        "analyzer": "icu-default-v1",
        "layout_version": LAYOUT_VERSION,
        "resumed_from": len(done),
    }, _mark)
    return storage


def refresh_stats(spark: SparkSession, storage: IndexStorage, meta: dict,
                  mark=lambda name: None) -> None:
    """The tail of build, append and compaction: the live parts' stats
    (``IndexStorage.stats``) into ``meta``, the global term stats
    (df/cf, unlike ES's per-shard idf), then meta.json; ``mark`` times
    each step for build's phase log."""
    parts = storage.parts()
    meta.update(storage.stats(parts))
    mark("field_stats")
    aggregate_term_stats(spark, storage, parts)
    mark("term_stats")
    storage.write_meta(meta)
    mark("write_meta")


# below this many postings bytes, the projected (term, doc_count,
# sum_tf) columns fit trivially in driver memory and a whole Spark job
# (schedule + shuffle + commit) is pure fixed overhead
_TERM_STATS_DRIVER_BYTES = 256 * 1024 * 1024


def aggregate_term_stats(spark: SparkSession, storage: IndexStorage,
                         parts: list[int]) -> None:
    """Global term dictionary (df/cf): ``doc_count``/``sum_tf`` summed
    by term over every block row of the live ``parts``' postings files.

    The postings are the only source, so build, resume, append and
    compaction all stay exact with no per-part partial to keep in step.
    Adaptive execution: at small-to-medium scale the whole aggregation
    is a driver-side pyarrow group_by over a projected read — no Spark
    job, no shuffle, no per-job fixed latency, written sorted by term
    through ``write_parquet_atomic``. Past a size threshold (100-TB
    builds) it stays a distributed groupBy, written with ZSTD level 1
    pages like every other index file and each file sorted by term, so
    the query planner's dictionary reads skip row groups by their term
    statistics."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    io = storage.io
    uris = [storage.part_path("postings", p) for p in parts]
    paths = [io.path(u) for u in uris]
    cols = pa.schema([("term", pa.string()),
                      ("doc_count", pa.int32()), ("sum_tf", pa.int64())])
    if (sum(i.size for i in io.fs.get_file_info(paths))
            <= _TERM_STATS_DRIVER_BYTES):
        merged = (ds.dataset(paths, schema=cols, filesystem=io.fs,
                             format="parquet")
                  .to_table()
                  .group_by("term")
                  .aggregate([("doc_count", "sum"), ("sum_tf", "sum")])
                  .rename_columns(["term", "df", "cf"])
                  # group_by's row order changes from run to run
                  .sort_by("term"))
        # replace the file first, then drop stale ones (a Spark-path
        # write's), so readers never see an empty term dictionary
        io.mkdirs(storage.term_stats_dir)
        kept = os.path.join(storage.term_stats_dir, "part=all.parquet")
        io.write_parquet_atomic(merged, kept)
        for path in storage.term_stats_paths():
            if path != io.path(kept):
                io.fs.delete_file(path)
        return
    (spark.read.schema("term string, doc_count int, sum_tf long")
        .parquet(*uris)
        .groupBy("term")
        .agg(F.sum("doc_count").alias("df"), F.sum("sum_tf").alias("cf"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", "1")
        .parquet(storage.term_stats_dir))
