"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload search --seed 7 --seconds 8 --trace 0

Run from the repository root.  Everything the run writes goes under
``.perfbench/`` in that root (index files, Spark scratch, temp files,
the trace); the work directory is removed at exit, the trace is kept.
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
(from a traced run plus the layer probe) with ``--trace 1``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "openaleph_search_spark")

# sizes per workload; the schedule length scales with --seconds
SIZES = {
    "search": {"replicas": 2, "parts": 4},
    "ingest": {"replicas": 1, "parts": 2, "full_replicas": 8,
               "full_parts": 16},
    "churn": {"replicas": 1, "parts": 2},
}
DRIVER_MEMORY = "1g"


def schedule(seconds: int) -> dict:
    """How much timed work a run does.  It grows with ``seconds`` but
    does not depend on how fast the calls are, so every run with the
    same ``seconds`` does the same work (at 8: 27 reads, 2 churn ticks,
    5 ingest appends)."""
    return {
        "n_reads": 9 * max(1, round(seconds * 3.4 / 9)),
        "n_ticks": max(2, round(seconds / 6)),
        "n_appends": max(3, round(seconds * 0.6)),
        "append_docs": 1000,
        "tick_docs": 500,
        "tick_reads": 8,
        "delete_texts": 100,     # 2% of the texts, every replica
        "upsert_docs": 500,
    }


# pinned digest of the seed-0 inputs at --seconds 8: a change to the
# generator (or to numpy's streams) shows up as a failed canary
CANARY_SEED, CANARY_SECONDS = 0, 8
CANARY_DIGEST = ("fb682e71bcafebbbe24caa79294129b5"
                 "76f239f21f17914bd4dafedd719f1440")


def _digest(seed: int, seconds: int) -> str:
    from perfbench.inputs import make_inputs
    return make_inputs(seed, **schedule(seconds)).digest()


def child_digest(seed: int, seconds: int) -> str:
    """The same inputs generated in a fresh interpreter with another
    hash seed — proves generation does not depend on the process."""
    env = dict(os.environ, PYTHONHASHSEED="12345")
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]);"
         "from perfbench.run import _digest;"
         "print(_digest(int(sys.argv[2]), int(sys.argv[3])))",
         ROOT, str(seed), str(seconds)],
        env=env, capture_output=True, text=True, timeout=120, check=True)
    return out.stdout.strip().splitlines()[-1]


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         # the whole heap is committed and touched at start, so the
         # memory metric does not follow the collector's heap sizing
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                 "-XX:+AlwaysPreTouch")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir",
                 os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Spark's Python workers import the package from the repository
    # root; temp files of the driver, JVM and workers stay in the run
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    from perfbench import metrics, workloads
    from perfbench.inputs import make_inputs
    from perfbench.ops import Ctx
    from perfbench.oracle import Oracle
    from perfbench.trace import MemSampler, Tracer

    sched = schedule(args.seconds)
    inputs = make_inputs(args.seed, **sched)
    canary = []
    if inputs.digest() != child_digest(args.seed, args.seconds):
        canary.append("inputs differ between interpreters")
    if _digest(CANARY_SEED, CANARY_SECONDS) != CANARY_DIGEST:
        canary.append("seed-0 inputs drifted from the pinned digest")

    cfg = SIZES[args.workload]
    tracer = Tracer(bool(args.trace))
    with MemSampler() as mem:
        t = time.perf_counter()
        spark = start_spark(work, metrics.CORES)
        session_s = time.perf_counter() - t
        try:
            ctx = Ctx(spark, work, inputs, tracer)
            workloads.write_batches(ctx, cfg)
            res = workloads.WORKLOADS[args.workload](ctx, cfg)
            peak = mem.peak_mb
            # exact counts: the set-up builds must agree byte for byte
            sizes = ctx.setup_counts
            if any(s != sizes[0] for s in sizes[1:]):
                canary.append("set-up builds differ in storage counts")
            if args.trace:
                span_cost = tracer.span_cost_s()
                floor = metrics.job_floor(spark, metrics.CORES)
                workloads.run_probe(ctx)
            workloads.check_reads(ctx, Oracle(inputs.texts))
            if args.trace:
                values = metrics.per_layer(ctx, res, session_s, span_cost,
                                           floor)
                out = metrics.as_metrics(values, metrics.PER_LAYER)
                os.makedirs(out_dir, exist_ok=True)
                tracer.dump(os.path.join(
                    out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
            else:
                values = metrics.end_to_end(ctx, res, peak)
                out = metrics.as_metrics(values, metrics.END_TO_END)
        finally:
            stop_spark(spark)

    timed = metrics.timed_calls(ctx)
    failed = min(len(ctx.errors) + len(canary), max(len(timed), 1))
    for msg in ctx.errors + canary:
        print(f"perfbench: FAIL {msg}", file=sys.stderr)
    ops_ = metrics.timed_calls(ctx, res["op"])
    per_kind: dict[str, list] = {}
    for kind, sec, req, _ in ctx.calls:
        k = per_kind.setdefault(f"{str(req)[:1]}:{kind}", [0, 0.0])
        k[0] += 1
        k[1] = round(k[1] + sec, 3)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "session_s": session_s,
                      "setup_rounds_s": res["setup"],
                      "setup_cpu_s": ctx.setup_cpu,
                      "calls": per_kind,
                      "timed_calls": len(timed),
                      "op_wall_s": [round(c[1], 3) for c in ops_],
                      "op_cpu_s": [round(c[3], 3) for c in ops_],
                      "calib_cpu_s": statistics.median(ctx.calib),
                      "window_s": ctx.window_s,
                      "ops_failed_ratio": failed / max(len(timed), 1),
                      "run_wall_s": time.perf_counter() - T_START}))
    print(json.dumps({"correct": failed == 0, "attempted": len(timed),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
