"""Measure the two costs that size the scatter query fan-out, and print
the crossover that sets ``query.executor._POSTINGS_PER_TASK``.

1. Fixed CPU of one Python task: jobs of n empty ``mapInPandas`` tasks
   (n = 1, 2, 4, 8, 16), process-tree CPU (driver + JVM + Python workers)
   per job. The least-squares slope over n is the per-task cost; it is
   paid before a task does any work, reused workers included.
2. Eval CPU per posting: an index of the replicated sf corpus, OR
   queries over the 1, 2, 4, ... most frequent content terms (so
   ``est_postings`` grows), each run as ``count`` (every posting read
   and decoded, no block-max pruning) with 1 .. defaultParallelism
   scatter groups. The slope of 1-group CPU over ``est_postings`` is
   the per-posting cost. Wall and CPU are printed for every
   (query, groups) cell.

Splitting W postings into n tasks costs about n*task + W*posting CPU
and, on free slots, task + W*posting/n wall. A task earns its fixed
cost once its share of eval work is at least as large, so the
crossover is ``task / posting`` postings per task.

Usage:
    python scripts/scatter_fanout_sweep.py --sf-dir <sf0.1 corpus dir>
        [--master local[2]] [--replicate 64] [--reps 9]
        [--work /tmp/scatter_sweep]

``--sf-dir`` (or ``SPARK_GRAFT_SF_DIR``) is a generated corpus
directory holding ``documents.parquet``.
"""
from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench.trace import tree_cpu_s as _cpu_of, tree_pids  # noqa: E402


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every descendant
    (the JVM and its Python daemon/workers)."""
    return _cpu_of(tree_pids(os.getpid()))


def measure(fn, reps: int) -> tuple[float, float]:
    """→ (median wall s, median process-tree CPU s) of ``fn()``, after
    one untimed warm-up call."""
    fn()
    walls, cpus = [], []
    for _ in range(reps):
        c, t = tree_cpu_s(), time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
        cpus.append(tree_cpu_s() - c)
    return statistics.median(walls), statistics.median(cpus)


def slope(xs, ys) -> float:
    return float(np.polyfit(np.asarray(xs, float), np.asarray(ys, float),
                            1)[0])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--replicate", type=int, default=64)
    ap.add_argument("--parts", type=int, default=8)
    ap.add_argument("--reps", type=int, default=9)
    ap.add_argument("--work", default="/tmp/scatter_sweep")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(args.master)
             .appName("scatter-fanout-sweep")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    print(f"host cores={os.cpu_count()} master={args.master} "
          f"defaultParallelism={par}")

    # -- 1. fixed CPU of one empty Python task --------------------------
    def empty_job(n):
        return lambda: spark.range(0, n, 1, n).mapInPandas(
            lambda it: (pdf.iloc[0:0] for pdf in it), "id long").collect()

    empty_job(par)()  # start the Python workers
    ns, cpus = [], []
    print("\nempty mapInPandas job: tasks  wall_s  cpu_s")
    for n in (1, 2, 4, 8, 16):
        w, c = measure(empty_job(n), args.reps)
        ns.append(n)
        cpus.append(c)
        print(f"  {n:5d}  {w:6.3f}  {c:6.3f}")
    task_cpu = slope(ns, cpus)
    print(f"fixed CPU per task: {task_cpu:.3f} s")

    # -- 2. eval CPU per posting -------------------------------------------
    from openaleph_search_spark.index.build import FIELD_SEP, build_index
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    from openaleph_search_spark.sources.code_table import load_docs

    idx = os.path.join(args.work, f"idx_x{args.replicate}")
    if not os.path.exists(os.path.join(idx, "meta.json")):
        shutil.rmtree(idx, ignore_errors=True)
        build_index(spark, load_docs(spark, args.sf_dir,
                                     replicate=args.replicate),
                    idx, num_partitions=args.parts, num_shards=4)
    eng = Engine(spark, idx)
    ex = eng.executor
    tarr, dfarr = ex._term_dict()
    content = [i for i, t in enumerate(tarr) if FIELD_SEP not in t]
    by_df = sorted(content, key=lambda i: -dfarr[i])
    print(f"\nindex: {args.replicate}x {args.sf_dir} "
          f"({ex.meta['n_docs']} docs, {len(ex._scatter_layout()['parts'])}"
          f" parts, {len(content)} content terms)")

    default_ppt = xmod._POSTINGS_PER_TASK
    rows = []
    print("count query: terms  est_postings  groups  wall_s  cpu_s")
    sizes = sorted({min(1 << i, len(by_df))
                    for i in range(len(by_df).bit_length() + 1)})
    for n_terms in sizes:
        q = " OR ".join(str(tarr[i]) for i in by_df[:n_terms])
        est = int(sum(dfarr[i] for i in by_df[:n_terms]))
        for g in range(1, par + 1):
            # the real planner, with the constant set so it picks g groups
            xmod._POSTINGS_PER_TASK = -(-est // g)
            w, c = measure(lambda: eng.count({"q": q}), args.reps)
            got = ex._last_scatter["n_groups"]
            rows.append((n_terms, est, got, w, c))
            print(f"  {n_terms:5d}  {est:12d}  {got:6d}  {w:6.3f}  {c:6.3f}")
    xmod._POSTINGS_PER_TASK = default_ppt

    one = [(est, c) for _, est, g, _, c in rows if g == 1]
    post_cpu = slope(*zip(*one))
    print(f"eval CPU per posting (1 group): {post_cpu * 1e9:.0f} ns")
    cross = task_cpu / post_cpu if post_cpu > 0 else float("inf")
    print(f"crossover: {task_cpu:.3f} s / {post_cpu * 1e9:.0f} ns = "
          f"{cross:,.0f} postings per task")
    print(f"_POSTINGS_PER_TASK in executor.py: {default_ppt:,}")
    spark.stop()


if __name__ == "__main__":
    main()
