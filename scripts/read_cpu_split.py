"""Warm read latency per read class, with its CPU split by process.

Builds the perfbench ``search`` index under a work directory: the
corpus ``perfbench.inputs`` generates for one seed, 2 replicas (10k
docs), 4 parts, 4 shards, bigrams on, in a Spark session with
perfbench's settings (``local[2]``, 1 GB driver). It opens one Engine,
warms every read class once, then runs each class's reads of the
perfbench schedule ``--reps`` times, cycling through them. Around each
class it reads the CPU ticks of the process tree from
``/proc/<pid>/stat`` and splits them by process:

* ``driver``: this Python process (the query planner, the driver-side
  scatter, pandas and pyarrow);
* ``jvm``: the ``java`` child (Py4J calls, ``createDataFrame``,
  ``collect`` and any Spark job);
* ``workers``: every other process in the tree (pyspark's daemon and
  its Python workers; non-zero only when a read runs a job).

Usage, from the repository root:

    python scripts/read_cpu_split.py [--seed 4245] [--reps 20] \\
        [--cold 3] [--work DIR] [--budget BYTES]

``--budget`` sets ``query.executor._DRIVER_CACHE_BYTES`` in this
process only (e.g. 0: neither the part cache nor the term dictionary is
held, so reads and planning read the index files), to time the
uncached source of a checkout against another's.

It prints one row per class: median warm wall ms, mean CPU ms per read
of each process, the median wall ms and mean driver CPU ms of the
first read on a fresh Engine (``--cold`` samples, Engine construction
included), and the Engine's ``explain()`` part cache record when the
package reports one; then the same as a JSON line.
A clock tick is 10 ms, so the CPU columns are means over ``--reps``
reads. Run it on an otherwise idle host.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import ops  # noqa: E402
from perfbench.inputs import READ_CLASSES, make_inputs  # noqa: E402
from perfbench.run import SIZES, schedule, start_spark, stop_spark  # noqa: E402
from perfbench.trace import Tracer, tree_cpu_s, tree_pids  # noqa: E402


def cpu_by_process() -> dict[str, float]:
    """CPU seconds so far of the driver, the JVM and the workers."""
    me = os.getpid()
    out = {"driver": tree_cpu_s([me]), "jvm": 0.0, "workers": 0.0}
    for pid in tree_pids(me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "workers"
        except OSError:
            continue
        out[kind] += tree_cpu_s([pid])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=4245)
    ap.add_argument("--reps", type=int, default=20)
    ap.add_argument("--cold", type=int, default=3)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench",
                                                   "cpu-split"))
    ap.add_argument("--budget", type=int, default=None)
    args = ap.parse_args(argv)
    from openaleph_search_spark.query import executor
    from openaleph_search_spark.query.engine import Engine
    if args.budget is not None:
        executor._DRIVER_CACHE_BYTES = args.budget

    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    inputs = make_inputs(args.seed, **schedule(8))
    cfg = SIZES["search"]
    spark = start_spark(args.work, 2)
    try:
        ctx = ops.Ctx(spark, args.work, inputs, Tracer(False))
        docs = os.path.join(args.work, "documents.parquet")
        ctx.write_documents(docs)
        storage, _, _ = ops.build(ctx, docs, os.path.join(
            args.work, "index"), cfg["replicas"], cfg["parts"], "build")
        by_cls = {c: [r for r in inputs.warm_reads + inputs.reads
                      if r.cls == c] for c in READ_CLASSES}
        eng = Engine(spark, storage.root)
        for c in READ_CLASSES:
            ops.read(ctx, eng, by_cls[c][0], "warm")
        rows = {}
        for c in READ_CLASSES:
            walls = []
            before = cpu_by_process()
            for i in range(args.reps):
                walls.append(ops.read(ctx, eng, by_cls[c][i % len(
                    by_cls[c])], "rep")["s"])
            after = cpu_by_process()
            cold = [ops.read(ctx, Engine(spark, storage.root),
                             by_cls[c][i % len(by_cls[c])], "cold")["s"]
                    for i in range(args.cold)]
            last = cpu_by_process()
            rows[c] = {"wall_ms": 1e3 * statistics.median(walls),
                       **{f"{k}_ms": 1e3 * (after[k] - before[k])
                          / args.reps for k in after},
                       "cold_wall_ms": (1e3 * statistics.median(cold)
                                        if cold else None),
                       "cold_driver_ms": (1e3 * (last["driver"]
                                                 - after["driver"])
                                          / args.cold if cold else None)}
        explain = eng.explain(by_cls["and"][0].args)
        cache = explain.get("part_cache")
    finally:
        stop_spark(spark)
        shutil.rmtree(args.work, ignore_errors=True)

    print(f"seed {args.seed}, {args.reps} warm reads per class, "
          f"{os.cpu_count()} CPUs, local[2], driver cache budget "
          f"{executor._DRIVER_CACHE_BYTES} bytes")
    print("| class | wall ms | driver ms | jvm ms | workers ms "
          "| cold wall ms | cold driver ms |")
    print("|---|---|---|---|---|---|---|")
    for c, r in rows.items():
        cold = " | ".join(
            "-" if r[k] is None else f"{r[k]:.1f}"
            for k in ("cold_wall_ms", "cold_driver_ms"))
        print(f"| {c} | {r['wall_ms']:.1f} | {r['driver_ms']:.1f} "
              f"| {r['jvm_ms']:.1f} | {r['workers_ms']:.1f} | {cold} |")
    if cache is not None:
        print(f"part_cache after the warm reads: {cache}")
    print(json.dumps({"seed": args.seed, "reps": args.reps,
                      "budget": executor._DRIVER_CACHE_BYTES,
                      "classes": rows, "part_cache": cache}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
