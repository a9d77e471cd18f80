"""The three workloads, their set-up, warm-up and the traced layer probe.

Request ids name the phase a call belongs to: ``setup<i>`` (set-up
round i), ``warm`` (untimed warm-up), ``T...`` (the timed schedule)
and ``probe`` (the traced run's layer probe).  Only ``T`` calls feed
the end-to-end metrics.
"""
from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from openaleph_search_spark.index.storage import IndexStorage
from openaleph_search_spark.query import percolate as perc
from openaleph_search_spark.query.engine import Engine

from . import ops
from .inputs import N_TEXTS, base_commit, docs_rows
from .oracle import Oracle, check_hits, check_shape, read_query
from .trace import calib_cpu_s, tree_cpu_s, tree_pids


class State:
    """Per-text replica counts of one index (see oracle.py)."""

    def __init__(self, replicas: int, n_texts: int = N_TEXTS):
        self.stats = np.zeros(N_TEXTS, dtype=np.int64)
        self.stats[:n_texts] = replicas
        self.live = self.stats.copy()

    def append(self, ids) -> None:
        np.add.at(self.stats, ids, 1)
        np.add.at(self.live, ids, 1)

    def upsert(self, ids) -> None:
        np.add.at(self.stats, ids, 1)   # old row tombstoned, new row live

    def delete(self, ids) -> None:
        self.live[np.asarray(ids)] = 0

    def compact(self) -> None:
        self.stats = self.live.copy()

    def snap(self):
        return self.stats.copy(), self.live.copy()


# -- index inspection (untimed) ------------------------------------------------
STORAGE_DIRS = ("postings", "doc_meta", "field_lens", "term_stats",
                "manifest")


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    nbytes = nfiles = 0
    for base, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(base, f))
            nfiles += 1
    return nbytes, nfiles


def storage_counts(index_dir: str) -> dict[str, int]:
    out = {}
    files = 0
    for d in STORAGE_DIRS:
        b, n = dir_usage(os.path.join(index_dir, d))
        out[f"storage.bytes.{d}"] = b
        files += n
    out["storage.files"] = files
    out["index_bytes"] = dir_usage(index_dir)[0]
    return out


def exact_counts(index_dir: str) -> dict[str, int]:
    """Sizes that identical builds reproduce byte for byte.  Left out:
    manifest JSON (it records task seconds) and term_stats (one file
    whose row order follows pyarrow's threaded group-by, so its
    compressed size moves by a few hundred bytes between builds)."""
    out = {d: dir_usage(os.path.join(index_dir, d))[0]
           for d in ("postings", "doc_meta", "field_lens",
                     "term_stats_parts")}
    out["files"] = dir_usage(index_dir)[1]
    return out


def parquet_ids(path: str) -> set[int]:
    if not os.path.isdir(path):
        return set()
    files = [os.path.join(b, f) for b, _, fs in os.walk(path) for f in fs
             if f.endswith(".parquet")]
    if not files:
        return set()
    return set(pq.ParquetDataset(files).read(["doc_id"])
               .column("doc_id").to_pylist())


# -- set-up --------------------------------------------------------------------
def setup_rounds(ctx, replicas: int, parts: int, rounds: int = 3):
    """Set-up, repeated: corpus write + base build, until the index is
    committed. → (wall seconds per round, index dir per round); the
    process tree's CPU seconds per round go to ``ctx.setup_cpu``."""
    times, dirs = [], []
    for i in range(rounds):
        d = os.path.join(ctx.work, f"setup{i}")
        c = tree_cpu_s(tree_pids(os.getpid()))
        t = time.perf_counter()
        docs_path = os.path.join(d, "documents.parquet")
        ctx.write_documents(docs_path)
        storage, dt, phases = ops.build(ctx, docs_path,
                                        os.path.join(d, "index"),
                                        replicas, parts, f"setup{i}")
        times.append(time.perf_counter() - t)
        ctx.setup_cpu.append(tree_cpu_s(tree_pids(os.getpid())) - c)
        ctx.calib.append(calib_cpu_s())
        ctx.setup_counts.append(exact_counts(storage.root))
        ctx.builds.append({"request": f"setup{i}", "s": dt,
                           "phases": phases, "docs": replicas * N_TEXTS,
                           "manifests": storage.completed_partitions()})
        dirs.append(storage.root)
    ctx.docs_path = os.path.join(ctx.work, "setup0", "documents.parquet")
    return times, dirs


def drop_manifests(index_dir: str, share: int = 8) -> int:
    """Crash simulation for resume: remove 1/share of the part
    manifests (the commit records); their data files stay behind."""
    mdir = os.path.join(index_dir, "manifest")
    names = sorted(n for n in os.listdir(mdir)
                   if n.startswith("part=") and n.endswith(".json"))
    victims = names[::share]
    for n in victims:
        os.remove(os.path.join(mdir, n))
    return len(victims)


def expect(ctx, cond: bool, msg: str) -> None:
    if not cond:
        ctx.fail(msg)


def n_docs(index_dir: str) -> int:
    return int(IndexStorage(index_dir).read_meta()["n_docs"])


# -- workloads -------------------------------------------------------------------
def run_search(ctx, cfg) -> dict:
    setup, dirs = setup_rounds(ctx, cfg["replicas"], cfg["parts"])
    main = dirs[0]
    eng = Engine(ctx.spark, main)
    state = State(cfg["replicas"])
    for r in ctx.inputs.warm_reads:
        ops.read(ctx, eng, r, "warm")["state"] = state.snap()
    t0 = time.perf_counter()
    for i, r in enumerate(ctx.inputs.reads):
        ops.read(ctx, eng, r, f"T{i}")["state"] = state.snap()
    ctx.window_s = time.perf_counter() - t0
    return {"setup": setup, "dirs": dirs, "main": main, "op": "read.",
            "content_w": state.live}


def run_ingest(ctx, cfg) -> dict:
    inp = ctx.inputs
    setup, dirs = setup_rounds(ctx, cfg["replicas"], cfg["parts"])
    base = dirs[0]
    full = os.path.join(ctx.work, "full", "index")
    # warm-up on the throw-away round-1 index: one of each write call
    spare = dirs[1]
    ops.append(ctx, spare, ctx.batch["warm"], 0, "warm")
    ops.upsert(ctx, IndexStorage(spare), ctx.batch["upsert"], "warm")
    drop_manifests(spare)
    ops.build(ctx, ctx.docs_path, spare, cfg["replicas"], cfg["parts"],
              "warm", resume=True)

    state = State(cfg["replicas"])
    t0 = time.perf_counter()
    storage, dt, phases = ops.build(ctx, ctx.docs_path, full,
                                    cfg["full_replicas"], cfg["full_parts"],
                                    "T-build")
    ctx.builds.append({"request": "T-build", "s": dt, "phases": phases,
                       "docs": cfg["full_replicas"] * N_TEXTS,
                       "manifests": storage.completed_partitions()})
    expect(ctx, n_docs(full) == cfg["full_replicas"] * N_TEXTS,
           "full build: wrong n_docs")
    for e, ids in enumerate(inp.appends):
        before = n_docs(base)
        ops.append(ctx, base, ctx.batch[f"append{e}"], e, f"T-append{e}")
        state.append(ids)
        expect(ctx, n_docs(base) == before + len(ids),
               f"append {e}: n_docs {n_docs(base)} != {before + len(ids)}")
    before = n_docs(base)
    ops.upsert(ctx, IndexStorage(base), ctx.batch["upsert"], "T-upsert")
    state.upsert(inp.upsert)
    expect(ctx, n_docs(base) == before + len(inp.upsert),
           "upsert: wrong n_docs")
    dropped = drop_manifests(full)
    _, dt, _ = ops.build(ctx, ctx.docs_path, full, cfg["full_replicas"],
                         cfg["full_parts"], "T-resume", resume=True)
    meta = IndexStorage(full).read_meta()
    expect(ctx, meta["resumed_from"] == cfg["full_parts"] - dropped
           and meta["n_docs"] == cfg["full_replicas"] * N_TEXTS,
           f"resume: meta {meta['resumed_from']}/{meta['n_docs']}")
    ctx.window_s = time.perf_counter() - t0

    # untimed end check: both indexes answer exactly like the oracle
    full_state = State(cfg["full_replicas"])
    checks = {r.cls: r for r in ctx.inputs.warm_reads}
    for idx, st, classes in ((full, full_state, ("and", "phrase3")),
                             (base, state, ("and",))):
        eng = Engine(ctx.spark, idx)
        for c in classes:
            ops.read(ctx, eng, checks[c], "check")["state"] = st.snap()
    return {"setup": setup, "dirs": dirs, "main": full,
            "op": "append.batch", "content_w": full_state.live}


def run_churn(ctx, cfg) -> dict:
    inp = ctx.inputs
    setup, dirs = setup_rounds(ctx, cfg["replicas"], cfg["parts"])
    main, spare = dirs[0], dirs[1]
    for d in (main, spare):
        perc.register_watchlist(IndexStorage(d), inp.watchlist)
    # warm-up on the round-1 index: every call class of a tick (the
    # percolate count is for the batch tick 0 percolates again).  No
    # warm-up compaction: it would cost as much as the timed one
    # (~12 s), and a run must stay under a minute
    ws = IndexStorage(spare)
    ops.append(ctx, spare, ctx.batch["tick0"], 0, "warm")
    warm_matches, _ = ops.percolate(ctx, ws, ctx.batch["tick0"], "warm")
    ops.delete(ctx, ws, inp.ticks[0].delete, "warm")
    eng = Engine(ctx.spark, spare)
    for r in inp.churn_final:
        ops.read(ctx, eng, r, "warm-nocheck")

    storage = IndexStorage(main)
    state = State(cfg["replicas"])
    t0 = time.perf_counter()
    for t, tick in enumerate(inp.ticks):
        ops.append(ctx, main, ctx.batch[f"tick{t}"], t, f"T{t}-append")
        state.append(tick.append)
        matches, _ = ops.percolate(ctx, storage, ctx.batch[f"tick{t}"],
                                   f"T{t}-percolate")
        ctx.matches.append(matches)
        if t == 0:
            expect(ctx, matches == warm_matches,
                   f"percolate canary: {matches} != {warm_matches}")
        want = int(state.live[np.asarray(tick.delete)].sum())
        n, _ = ops.delete(ctx, storage, tick.delete, f"T{t}-delete")
        state.delete(tick.delete)
        expect(ctx, n == want, f"tick {t}: deleted {n}, expected {want}")
        eng, _ = ctx.timed("engine.open",
                           lambda: Engine(ctx.spark, main), f"T{t}-open")
        for j, r in enumerate(tick.reads):
            ops.read(ctx, eng, r, f"T{t}-read{j}")["state"] = state.snap()
    tombs = parquet_ids(os.path.join(main, "tombstones"))
    last = [rec for rec in ctx.reads
            if rec["request"].startswith(f"T{len(inp.ticks) - 1}-")]
    leak = [h for rec in last for h in _result_ids(rec) if h in tombs]
    expect(ctx, not leak, f"{len(leak)} tombstoned docs returned")
    ops.compact(ctx, storage, "T-compact")
    ctx.compact_bytes.append(compacted_bytes(main))
    state.compact()
    eng, _ = ctx.timed("engine.open", lambda: Engine(ctx.spark, main),
                       "T-final-open")
    for j, r in enumerate(inp.churn_final):
        ops.read(ctx, eng, r, f"T-final{j}")["state"] = state.snap()
    ctx.window_s = time.perf_counter() - t0
    live_ids = parquet_ids(os.path.join(main, "doc_meta"))
    final = [rec for rec in ctx.reads
             if rec["request"].startswith("T-final")]
    stale = [h for rec in final for h in _result_ids(rec)
             if h not in live_ids]
    expect(ctx, not stale, f"{len(stale)} compacted-away docs returned")
    return {"setup": setup, "dirs": dirs, "main": main, "op": "read.",
            "content_w": state.live}


def _result_ids(rec) -> list[int]:
    res = rec["result"]
    if isinstance(res, list):
        return [h[0] for h in res]
    if rec["read"].cls == "msearch":
        return [h[0] for hits in res.values() for h in hits]
    return []


WORKLOADS = {"search": run_search, "ingest": run_ingest, "churn": run_churn}


# -- traced layer probe -----------------------------------------------------------
PROBE_TEXTS, PROBE_PARTS = 1000, 2


def run_probe(ctx) -> None:
    """One of each public call the workload did not make itself, on a
    small index of its own (the first 1,000 texts), so every layer
    metric exists on every workload.  Reads go first, while the oracle
    state is the base."""
    have = {k for k, _, r, _ in ctx.calls if str(r).startswith(ops.TIMED)}
    docs_path = os.path.join(ctx.work, "probe", "documents.parquet")
    ctx.write_documents(docs_path, PROBE_TEXTS)
    index_dir = os.path.join(ctx.work, "probe", "index")
    storage, _, _ = ops.build(ctx, docs_path, index_dir, 1, PROBE_PARTS,
                              "probe")
    state = State(1, PROBE_TEXTS)
    eng = Engine(ctx.spark, index_dir)
    for r in ctx.inputs.warm_reads:
        if f"read.{r.cls}" not in have:
            ops.read(ctx, eng, r, "probe")["state"] = state.snap()
        if r.cls != "msearch":
            with ctx.tr.span("engine.explain", "probe"):
                eng.explain(r.args)
    if "build.resume" not in have:
        drop_manifests(index_dir)
        ops.build(ctx, docs_path, index_dir, 1, PROBE_PARTS, "probe",
                  resume=True)
    if "append.batch" not in have:
        ops.append(ctx, index_dir, ctx.batch["tick0"], 0, "probe")
        ops.append(ctx, index_dir, ctx.batch["warm"], 1, "probe")
    if "mutate.upsert" not in have:
        ops.upsert(ctx, storage, ctx.batch["upsert"], "probe")
    if "mutate.delete" not in have:
        ops.delete(ctx, storage, ctx.inputs.ticks[0].delete, "probe")
    if "percolate.batch" not in have:
        perc.register_watchlist(storage, ctx.inputs.watchlist)
        m, _ = ops.percolate(ctx, storage, ctx.batch["tick0"], "probe")
        ctx.probe_matches.append(m)
    if "mutate.compact" not in have:
        ops.compact(ctx, storage, "probe")
        ctx.probe_compact_bytes.append(compacted_bytes(index_dir))


def compacted_bytes(index_dir: str) -> int:
    """Bytes of the directories ``compact()`` rewrites."""
    return sum(dir_usage(os.path.join(index_dir, d))[0]
               for d in ("postings", "doc_meta", "field_lens", "term_stats",
                         "term_stats_parts"))


def write_batches(ctx, cfg) -> None:
    """Every micro-batch the run will append, upsert or percolate,
    written before the engine starts."""
    inp = ctx.inputs
    ctx.batch = {}
    for t, tick in enumerate(inp.ticks):
        ctx.batch[f"tick{t}"] = ctx.write_docs(f"tick{t}", tick.append,
                                               f"tick{t}")
    for e, ids in enumerate(inp.appends):
        ctx.batch[f"append{e}"] = ctx.write_docs(f"append{e}", ids,
                                                 f"append{e}")
    ctx.batch["warm"] = ctx.write_docs("warm", inp.appends[0], "warm")
    # upsert re-versions replica 0 of each text: same identity, same text
    rows = docs_rows(inp.texts, inp.upsert, "upsert")
    rows["commit"] = [base_commit(t, 0) for t in inp.upsert]
    path = os.path.join(ctx.work, "batches", "upsert.parquet")
    import pyarrow as pa
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), path)
    ctx.batch["upsert"] = path


# -- correctness ----------------------------------------------------------------------
def check_reads(ctx, oracle: Oracle) -> None:
    for rec in ctx.reads:
        if "state" not in rec:
            continue
        err = _check_one(oracle, rec)
        if err:
            ctx.fail(f"{rec['request']} {rec['read'].cls}: {err}")


def _check_one(oracle: Oracle, rec) -> str | None:
    r, res = rec["read"], rec["result"]
    stats, live = rec["state"]
    q = read_query(r)
    if r.cls == "count":
        want = oracle.count(q, stats, live)
        return None if res == want else f"count {res} != {want}"
    if r.cls == "facet":
        want = oracle.facet(q, stats, live)
        return None if res == want else f"facet {res} != {want}"
    if r.cls == "msearch":
        for qid, a in r.batch.items():
            hits = res.get(qid, [])
            err = check_shape(hits) or check_hits(oracle, a["q"], hits,
                                                  stats, live)
            if err:
                return f"{qid}: {err}"
        return None
    lang = r.args.get("filter:lang")
    return check_shape(res) or check_hits(oracle, q, res, stats, live, lang)
