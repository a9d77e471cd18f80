"""End-to-end and per-layer metrics from one run's calls and spans.

Per-layer values come from the traced run.  For a call a workload
makes itself (request ``T...``) its own calls are used; a call it
never makes is taken from the layer probe (request ``probe``), so each
layer metric exists on every workload.  README.md maps every metric to
the layer it measures and the end-to-end metric it should move.
"""
from __future__ import annotations

import os
import statistics
import time

import pyarrow.dataset as ds
import pyarrow.compute as pc

from openaleph_search_spark.analysis.analyzer import tokenize_flat
from openaleph_search_spark.index.codec import decode_block, encode_blocks

from .inputs import READ_CLASSES
from .ops import TIMED
from .workloads import storage_counts

CORES = 2   # the run's Spark master is local[CORES]
# median of trace.calib_cpu_s() on an idle 4-vCPU Xeon VM: CPU seconds
# are scaled by CALIB_REF_S / (this run's median) to that host's speed
CALIB_REF_S = 0.0198

END_TO_END = {
    "setup_s": "s",
    "op_norm_cpu_p50_s": "s",
    "schedule_norm_cpu_s": "s",
    "index_bytes_per_source_byte": "ratio",
    "peak_pss_mb": "MB",
}

PER_LAYER = {
    "op.wall_p50_s": "s",
    "schedule.wall_s": "s",
    "setup.wall_s": "s",
    "op.cpu_p50_s": "s",
    "host.calib_cpu_s": "s",
    "session.start_s": "s",
    "spark.job_floor_s": "s",
    "parser.parse_s": "s",
    "engine.explain_s": "s",
    **{f"search.{c}_p50_s": "s" for c in READ_CLASSES},
    "executor.scatter_share": "ratio",
    "codec.decode_mb_per_s": "MB/s",
    "codec.encode_mb_per_s": "MB/s",
    "codec.bytes_per_posting": "bytes",
    "analyzer.tokens_per_s": "1/s",
    "build.phase.setup_s": "s",
    "build.phase.spimi_job_s": "s",
    "build.phase.field_stats_s": "s",
    "build.phase.term_stats_s": "s",
    "build.task_s_sum": "s",
    "build.task_s_max": "s",
    "build.task_busy_share": "ratio",
    "build.docs_per_s": "1/s",
    "build.resume_s": "s",
    **{f"storage.bytes.{d}": "bytes"
       for d in ("postings", "doc_meta", "field_lens", "term_stats",
                 "manifest")},
    "storage.files": "count",
    "append.s_first": "s",
    "append.s_last": "s",
    "delete.s": "s",
    "upsert.s": "s",
    "compact.s": "s",
    "compact.bytes_written": "bytes",
    "percolate.s_per_batch": "s",
    "percolate.docs_per_s": "1/s",
    "percolate.matches": "count",
    "trace.spans": "count",
    "trace.overhead_share": "ratio",
    "trace.op_norm_cpu_p50_s": "s",
}


def _med(xs):
    return statistics.median(xs)


def timed_calls(ctx, op: str = "") -> list[tuple]:
    """The timed schedule's calls whose kind starts with ``op``."""
    return [c for c in ctx.calls
            if c[0].startswith(op) and str(c[2]).startswith(TIMED)]


def schedule_cpu(calls) -> float:
    """CPU seconds of a schedule with every call kind at its median:
    the sum over kinds of (calls of the kind × their median CPU
    seconds).  A one-off stall, such as a collector pause or a burst
    from a neighbouring VM, then moves one call's share, not the
    total."""
    by_kind: dict[str, list[float]] = {}
    for kind, _, _, cpu in calls:
        by_kind.setdefault(kind, []).append(cpu)
    return sum(len(xs) * _med(xs) for xs in by_kind.values())


def host_scale(ctx) -> float:
    """Reference-host seconds per CPU second in this run."""
    return CALIB_REF_S / _med(ctx.calib)


def op_cpu_p50(ctx, res: dict) -> float:
    return _med([c[3] for c in timed_calls(ctx, res["op"])])


def end_to_end(ctx, res: dict, peak_mb: float) -> dict[str, float]:
    content = float((res["content_w"]
                     * ctx.inputs.texts["text"].str.len().to_numpy()).sum())
    scale = host_scale(ctx)
    return {
        "setup_s": _med(ctx.setup_cpu) * scale,
        "op_norm_cpu_p50_s": op_cpu_p50(ctx, res) * scale,
        "schedule_norm_cpu_s": schedule_cpu(timed_calls(ctx)) * scale,
        "index_bytes_per_source_byte":
            storage_counts(res["main"])["index_bytes"] / content,
        "peak_pss_mb": peak_mb,
    }


# -- per layer -------------------------------------------------------------------
def _pick(tr, name: str, self_time: bool = False) -> list[float]:
    """Durations (or self times) of the workload's own ``name`` spans,
    else of the probe's."""
    for prefix in (TIMED, "probe"):
        if self_time:
            xs = tr.self_times(name, prefix)
        else:
            xs = [s["end"] - s["start"] for s in tr.spans
                  if s["name"] == name
                  and str(s["request"] or "").startswith(prefix)]
        if xs:
            return xs
    raise KeyError(name)


def job_floor(spark, tasks: int, reps: int = 9) -> float:
    """An empty single-stage mapInPandas job with ``tasks`` tasks."""
    df = spark.range(0, tasks, 1, tasks)
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        df.mapInPandas(lambda it: it, "id long").collect()
        ts.append(time.perf_counter() - t)
    return _med(ts)


def codec_rates(index_dir: str, n_blocks: int = 2000) -> dict[str, float]:
    post = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                      partitioning="hive")
    cols = ["docs_payload", "tfs_payload", "dls_payload", "pos_payload"]
    full = post.to_table(columns=cols + ["doc_count"])
    payload = sum(int(pc.sum(pc.binary_length(full[c])).as_py() or 0)
                  for c in cols)
    per_posting = payload / int(pc.sum(full["doc_count"]).as_py())
    first = min(post.files)
    rows = (ds.dataset(first, format="parquet")
            .to_table(columns=cols[:3]).slice(0, n_blocks).to_pylist())
    mb = sum(len(r[c]) for r in rows for c in cols[:3]) / 1e6
    dec, enc = [], []
    for _ in range(5):
        t = time.perf_counter()
        decoded = [decode_block(r) for r in rows]
        dec.append(time.perf_counter() - t)
        t = time.perf_counter()
        out = [encode_blocks(d, tf, dl, None) for d, tf, dl in decoded]
        enc.append(time.perf_counter() - t)
    out_mb = sum(len(b[c]) for blocks in out for b in blocks
                 for c in cols[:3]) / 1e6
    return {"codec.decode_mb_per_s": mb / _med(dec),
            "codec.encode_mb_per_s": out_mb / _med(enc),
            "codec.bytes_per_posting": per_posting}


def tokens_per_s(texts) -> float:
    series = texts["text"]
    ts, n = [], 0
    for _ in range(3):
        t = time.perf_counter()
        n = len(tokenize_flat(series)[0])
        ts.append(time.perf_counter() - t)
    return n / _med(ts)


def per_layer(ctx, res: dict, session_s: float, span_cost: float,
              floor_s: float) -> dict[str, float]:
    tr = ctx.tr
    m: dict[str, float] = {
        "op.wall_p50_s": _med([c[1] for c in timed_calls(ctx, res["op"])]),
        "schedule.wall_s": sum(c[1] for c in timed_calls(ctx)),
        "setup.wall_s": _med(res["setup"]),
        "op.cpu_p50_s": op_cpu_p50(ctx, res),
        "host.calib_cpu_s": _med(ctx.calib),
        "session.start_s": session_s,
        "spark.job_floor_s": floor_s}
    m["parser.parse_s"] = _med(_pick(tr, "parser.parse_args", True))
    m["engine.explain_s"] = _med(_pick(tr, "engine.explain", True))
    for c in READ_CLASSES:
        m[f"search.{c}_p50_s"] = _med(_pick(tr, f"read.{c}"))
    reads = [r for r in ctx.reads if r["request"].startswith(TIMED)] \
        or [r for r in ctx.reads if r["request"] == "probe"]
    m["executor.scatter_share"] = (sum(r["scatter"] for r in reads)
                                   / len(reads))
    m.update(codec_rates(res["main"]))
    m["analyzer.tokens_per_s"] = tokens_per_s(ctx.inputs.texts)

    builds = ([b for b in ctx.builds if b["request"].startswith(TIMED)]
              or [b for b in ctx.builds if b["request"].startswith("setup")])
    for ph in ("setup", "spimi_job", "field_stats", "term_stats"):
        m[f"build.phase.{ph}_s"] = _med([b["phases"][ph] for b in builds])
    task_s, task_max, busy = [], [], []
    for b in builds:
        secs = [float(r["seconds"]) for r in b["manifests"].values()]
        task_s.append(sum(secs))
        task_max.append(max(secs))
        busy.append(sum(secs) / (b["phases"]["spimi_job"] * CORES))
    m["build.task_s_sum"] = _med(task_s)
    m["build.task_s_max"] = _med(task_max)
    m["build.task_busy_share"] = _med(busy)
    m["build.docs_per_s"] = _med([b["docs"] / b["s"] for b in builds])
    m["build.resume_s"] = _med(_pick(tr, "build.resume"))

    counts = storage_counts(res["main"])
    for k, v in counts.items():
        if k.startswith("storage."):
            m[k] = v
    appends = _pick(tr, "append.batch")
    m["append.s_first"], m["append.s_last"] = appends[0], appends[-1]
    m["delete.s"] = _med(_pick(tr, "mutate.delete"))
    m["upsert.s"] = _med(_pick(tr, "mutate.upsert"))
    m["compact.s"] = _med(_pick(tr, "mutate.compact"))
    m["compact.bytes_written"] = (ctx.compact_bytes
                                  or ctx.probe_compact_bytes)[0]
    perc = _pick(tr, "percolate.batch")
    matches = ctx.matches or ctx.probe_matches
    m["percolate.s_per_batch"] = _med(perc)
    m["percolate.matches"] = sum(matches)
    batch_docs = len(ctx.inputs.ticks[0].append)
    m["percolate.docs_per_s"] = batch_docs * len(perc) / sum(perc)
    m["trace.spans"] = len(tr.spans)
    m["trace.overhead_share"] = (span_cost * len(tr.spans)
                                 / max(ctx.window_s, 1e-9))
    m["trace.op_norm_cpu_p50_s"] = op_cpu_p50(ctx, res) * host_scale(ctx)
    return m


def as_metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}
