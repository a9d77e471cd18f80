"""Index mutations: append (S3 upsert path), delete (S4/S5), and the
safety rules that keep query-time pruning correct afterwards.

The reference's mutations are ES row-level ops
(/root/reference/openaleph_search/index/indexer.py:36-51,181-189,
index/entities.py:361-369). Columnar Spark-first equivalents, each
sized by its work (one Spark job at most, like a Delta Lake writer
that adds one file and commits it):

* **delete** = tombstones: a small doc_id table subtracted at query
  time (Lucene's own soft-delete design). One Spark filter resolves
  the victims; the driver subtracts the ids already tombstoned and
  writes the rest as ONE ``tombstones/<uuid>.parquet``, atomically.
  ``compact()`` folds them in by rewriting, in place, only the source
  parts that hold a tombstoned doc: each part's files are replaced one
  at a time under their own ``part=<p>.parquet`` names, manifest last.
  No writer swaps a live directory.
* **append** = one new source part per small batch (a larger batch
  adds one part per build partition), same layout. Appends change
  collection stats (N, avgdl) — harmless: impact bounds are derived at
  query time from each block's stored (max_tf, min_dl) against the
  live stats, so pruning stays provably sound through any mutation.
* **upsert** = append, then tombstone the older versions.
"""
from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..ops.util import gather, plan_tasks
from .storage import IndexStorage


def _ids(victims: DataFrame) -> np.ndarray:
    """The ``doc_id`` column of ``victims``, collected in one Spark job
    as Arrow: 8 B per id in the driver."""
    return victims.select("doc_id").toArrow().column("doc_id").to_numpy()


def _add_tombstones(storage: IndexStorage, ids: np.ndarray) -> int:
    """Tombstone ``ids``: the ids already tombstoned are read through
    pyarrow and subtracted, and the new ones go into ONE tombstone
    file (``IndexStorage.add_tombstones``). → how many."""
    new = np.setdiff1d(ids, storage.dead_ids())
    if new.size:
        storage.add_tombstones(new)
    return int(new.size)


def delete_docs(spark: SparkSession, storage: IndexStorage,
                predicate) -> int:
    """S4 delete-by-query: tombstone the docs matching ``predicate`` (a
    Column or SQL string over doc_meta). One Spark job: the filter,
    whose matching ids are collected to the driver (8 B per id, so a
    delete of N docs holds 8N bytes there). Returns the number of
    newly tombstoned docs."""
    return _add_tombstones(
        storage, _ids(storage.doc_meta(spark).filter(predicate)))


def delete_by_ids(spark: SparkSession, storage: IndexStorage,
                  doc_ids: list[int]) -> int:
    """S5 delete-by-id."""
    return delete_docs(spark, storage, F.col("doc_id").isin(doc_ids))


def upsert_docs(spark: SparkSession, storage: IndexStorage,
                docs: DataFrame) -> None:
    """S3 upsert (≈ ES index_safe): append the new versions, then
    tombstone the older rows with the same (repo, path, commit)
    identity. A crash in between leaves both versions live, never
    neither, and a re-run converges.

    A batch that fits one part was collected by the append, so the
    identity lookup is one filter job over doc_meta (the batch's paths
    pushed down, exact keys matched in the driver): two jobs in all. A
    larger batch is matched with a Spark semi-join."""
    from ..streaming.incremental import append_batch
    keys = ["repo", "path", "commit"]
    base_part, batch = append_batch(spark, docs, storage.root, epoch_id=-1)
    older = storage.doc_meta(spark).filter(F.col("src_part") < base_part)
    if batch is None:
        ids = _ids(older.join(docs.select(keys), keys, "left_semi"))
    else:
        want = batch.select(keys).drop_null()
        if not want.num_rows:
            return
        cand = (older.filter(F.col("path").isin(
                    want.column("path").unique().to_pylist()))
                .select("doc_id", *keys).toArrow())
        ids = (cand.join(want, keys, join_type="left semi")
               .column("doc_id").to_numpy())
    _add_tombstones(storage, ids)


_PAYLOADS = ("docs_payload", "tfs_payload", "dls_payload", "pos_payload")
# docs a compaction task must rewrite before compact() fans out to
# another: a Python task's fixed CPU over the rewrite CPU per doc
# (0.28-0.30 s / 32-34 us = 8.2k-9.6k docs, 4-vCPU host, local[2])
DOCS_PER_COMPACT_TASK = 10_000


def _rewrite_part(storage: IndexStorage, part: int, dead: np.ndarray,
                  with_positions: bool) -> dict:
    """Drop ``dead`` (this part's sorted tombstoned ids) from one source
    part and write its files back in place, each one atomically and the
    manifest last. Every value is re-derived from the part's own files,
    so a re-run after a crash anywhere in here converges."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from .codec import drop_docs
    io = storage.io
    post_path = storage.part_path("postings", part)
    post = io.read_parquet(post_path)
    lo = np.searchsorted(dead, post["first_doc"].to_numpy())
    hi = np.searchsorted(dead, post["last_doc"].to_numpy(), side="right")
    touched = np.flatnonzero(hi > lo)  # block range holds a dead id
    blocks_dropped = 0
    if touched.size:
        old = post.take(touched)
        kept, cols = drop_docs(
            *(old[c].to_pylist() for c in _PAYLOADS),
            old["doc_count"].to_numpy(), dead, with_positions)
        cols["term"] = old["term"].take(kept).combine_chunks()
        new = pa.Table.from_arrays(
            [pa.array(cols[f.name], f.type) for f in post.schema],
            schema=post.schema)
        # rebuilt blocks keep their (term, first_doc) slot in the run
        rest = np.flatnonzero(hi <= lo)
        order = np.argsort(np.concatenate([rest, touched[kept]]),
                           kind="stable")
        post = pa.concat_tables([post.take(rest), new]).take(order)
        blocks_dropped = int(touched.size - kept.size)
        io.write_parquet_atomic(post, post_path)

    dm_path = storage.part_path("doc_meta", part)
    dm = io.read_parquet(dm_path)
    live = ~np.isin(dm["doc_id"].to_numpy(), dead)
    dm = dm.filter(pa.array(live))
    io.write_parquet_atomic(dm, dm_path)
    fl_path = storage.part_path("field_lens", part)
    fl = io.read_parquet(fl_path)
    fl = fl.filter(pa.array(~np.isin(fl["doc_id"].to_numpy(), dead)))
    io.write_parquet_atomic(fl, fl_path)

    # the part's per-field (docs, tokens) partial, over its survivors
    n = dm.num_rows
    sums = fl.group_by("field").aggregate([("dl", "sum")])
    tokens = dict(zip(sums["field"].to_pylist(),
                      sums["dl_sum"].to_pylist()))
    fields_path = storage.part_path("fields", part)
    io.write_bytes_atomic(fields_path, json.dumps({
        f: (n, tokens.get(f, 0))
        for f in json.loads(io.read_bytes(fields_path))}).encode())
    man_path = storage.part_path("manifest", part)
    man = json.loads(io.read_bytes(man_path))
    man.update(docs=n, postings=post.num_rows,
               tokens=int(pc.sum(dm["doc_len"]).as_py() or 0))
    io.write_bytes_atomic(man_path, json.dumps(man).encode())
    return {"docs_dropped": int(live.size - n),
            "blocks_dropped": blocks_dropped}


def _compact_parts(storage: IndexStorage, parts: list[int],
                   dead: np.ndarray, with_positions: bool) -> list[dict]:
    """One compaction group, in the driver or a task: keep the dead ids
    (sorted, every tombstoned id) of its parts, rewrite them one by one."""
    from .build import DOC_ID_PART_SHIFT
    part_of = dead >> DOC_ID_PART_SHIFT
    return [_rewrite_part(storage, p, dead[part_of == p], with_positions)
            for p in parts]


def compact(spark: SparkSession, storage: IndexStorage) -> dict:
    """Fold the tombstones into the index and refresh its statistics.

    Only the live source parts that hold a tombstoned id are rewritten,
    each in place (``_rewrite_part``), so every file keeps its
    ``part=<p>.parquet`` name and reads stay on the scatter path. Sized
    by the work, like a read: ``n = min(targets, cores, ceil(docs /
    DOCS_PER_COMPACT_TASK))``, the docs taken from the target parts'
    manifests (``ops.util.plan_tasks``). When one group holds at most
    that many docs the driver rewrites them with no Spark job (``tasks
    == 0``); otherwise one single-stage job of ``n`` tasks does
    (``ops.util.gather``, no shuffle). Then the driver finishes like
    build and append (``build.refresh_stats``), and last the
    tombstones go. A crash before that leaves the tombstones in place
    (readers keep subtracting them) and a re-run finishes the job.
    Impact bounds need no refill: they are derived live at query time
    from each block's (max_tf, min_dl).

    → ``{"parts_rewritten", "parts_skipped", "docs_dropped",
    "blocks_dropped", "tasks"}``."""
    from .build import DOC_ID_PART_SHIFT, refresh_stats
    stats = dict.fromkeys(("parts_rewritten", "parts_skipped",
                           "docs_dropped", "blocks_dropped", "tasks"), 0)
    tomb_paths = storage.tombstone_paths()
    if not tomb_paths:
        return stats
    parts = storage.parts()
    manifests = storage.completed_partitions()
    dead = storage.dead_ids(tomb_paths)
    targets = sorted(set((dead >> DOC_ID_PART_SHIFT).tolist())
                     & set(parts))
    meta = storage.read_meta()
    with_positions = bool(meta["with_positions"])
    docs = sum(manifests[p]["docs"] for p in targets if p in manifests)
    groups, stats["tasks"] = plan_tasks(
        spark, targets, docs, DOCS_PER_COMPACT_TASK)

    def rewrite(gids, dead=None):
        # a task reads the tombstones itself: the ids do not ride in
        # the closure
        if dead is None:
            dead = storage.dead_ids(tomb_paths)
        for gid in gids:
            yield from _compact_parts(storage, groups[int(gid)], dead,
                                      with_positions)
    rows = gather(spark, groups, stats["tasks"],
                  rewrite if stats["tasks"] else
                  lambda gids: rewrite(gids, dead))
    stats.update(parts_rewritten=len(rows),
                 parts_skipped=len(parts) - len(rows),
                 docs_dropped=sum(r["docs_dropped"] for r in rows),
                 blocks_dropped=sum(r["blocks_dropped"] for r in rows))
    refresh_stats(spark, storage, meta)
    storage.drop_tombstones()
    return stats
