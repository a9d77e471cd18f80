"""Timed calls into the package's public functions.

Every helper here wraps exactly one public call (plus collecting its
result, which is part of what a caller waits for), records its wall
time (``perf_counter``) and the CPU seconds of the whole process tree,
and records a span around it.  Checks against the
oracle happen outside these helpers, so they never enter a timing.
"""
from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openaleph_search_spark.index import mutate
from openaleph_search_spark.index.build import build_index
from openaleph_search_spark.index.storage import IndexStorage
from openaleph_search_spark.query import percolate as perc
from openaleph_search_spark.query.engine import Engine
from openaleph_search_spark.query.parser import parse_args
from openaleph_search_spark.sources.code_table import docs_from_documents
from openaleph_search_spark.streaming.incremental import append_batch

from .inputs import Read, docs_rows, path_of, text_id_of_path
from .trace import calib_cpu_s, tree_cpu_s, tree_pids

NUM_SHARDS = 4


TIMED = "T"   # request-id prefix of the timed schedule's calls


class Ctx:
    """What every workload shares: the session, the work directory,
    the seeded inputs, the tracer and the log of calls."""

    def __init__(self, spark, work: str, inputs, tracer):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.tr = tracer
        # one (kind, wall seconds, request, tree CPU seconds) per call
        self.calls: list[tuple[str, float, str, float]] = []
        # host speed (trace.calib_cpu_s) after each set-up round and
        # each timed call; metrics.py scales CPU seconds by it
        self.calib: list[float] = []
        self.reads: list[dict] = []
        self.builds: list[dict] = []
        self.setup_counts: list[dict] = []
        self.setup_cpu: list[float] = []
        self.errors: list[str] = []
        self.batch: dict[str, str] = {}
        self.docs_path = ""
        self.window_s = 0.0
        self.matches: list[int] = []
        self.compact_bytes: list[int] = []
        self.probe_matches: list[int] = []
        self.probe_compact_bytes: list[int] = []

    def timed(self, kind: str, fn, request: str | None = None):
        """Run one public call; → (result, wall seconds)."""
        c = tree_cpu_s(tree_pids(os.getpid()))
        with self.tr.span(kind, request):
            t = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t
        self.record(kind, dt, request, c)
        return out, dt

    def record(self, kind: str, dt: float, request: str | None,
               cpu_before: float) -> None:
        """Log one finished call with the CPU seconds the process tree
        (driver, JVM, Python workers) spent since ``cpu_before``."""
        cpu = tree_cpu_s(tree_pids(os.getpid())) - cpu_before
        self.calls.append((kind, dt, request, cpu))
        if str(request).startswith(TIMED):
            self.calib.append(calib_cpu_s())

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    # -- inputs on disk -------------------------------------------------------
    def write_documents(self, path: str, n: int | None = None) -> None:
        """The corpus (its first ``n`` texts) as the ``documents``
        table, written with pyarrow."""
        import pyarrow as pa
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(self.inputs.texts.iloc[:n],
                                            preserve_index=False), path)

    def write_docs(self, name: str, ids, tag: str) -> str:
        import pyarrow as pa
        path = os.path.join(self.work, "batches", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(
            docs_rows(self.inputs.texts, ids, tag), preserve_index=False),
            path)
        return path

    def docs(self, documents_path: str, replicate: int):
        return docs_from_documents(self.spark.read.parquet(documents_path),
                                   replicate=replicate)


# -- writes ------------------------------------------------------------------
def build(ctx: Ctx, documents_path: str, index_dir: str, replicate: int,
          parts: int, request: str, resume: bool = False):
    phases: dict = {}

    def call():
        return build_index(ctx.spark, ctx.docs(documents_path, replicate),
                           index_dir, num_partitions=parts,
                           num_shards=NUM_SHARDS, bigrams=True,
                           resume=resume, phase_log=phases)
    name = "build.resume" if resume else "build.full"
    storage, dt = ctx.timed(name, call, request)
    return storage, dt, phases


def append(ctx: Ctx, index_dir: str, batch_path: str, epoch: int,
           request: str) -> float:
    df = ctx.spark.read.parquet(batch_path)
    return ctx.timed("append.batch", lambda: append_batch(
        ctx.spark, df, index_dir, epoch_id=epoch), request)[1]


def upsert(ctx: Ctx, storage: IndexStorage, batch_path: str,
           request: str) -> float:
    df = ctx.spark.read.parquet(batch_path)
    return ctx.timed("mutate.upsert", lambda: mutate.upsert_docs(
        ctx.spark, storage, df), request)[1]


def delete(ctx: Ctx, storage: IndexStorage, text_ids, request: str):
    paths = [path_of(ctx.inputs.texts, t) for t in text_ids]
    return ctx.timed("mutate.delete", lambda: mutate.delete_docs(
        ctx.spark, storage, F.col("path").isin(paths)), request)


def compact(ctx: Ctx, storage: IndexStorage, request: str) -> float:
    return ctx.timed("mutate.compact", lambda: mutate.compact(
        ctx.spark, storage), request)[1]


def percolate(ctx: Ctx, storage: IndexStorage, batch_path: str,
              request: str):
    df = ctx.spark.read.parquet(batch_path)
    return ctx.timed("percolate.batch", lambda: perc.percolate_index(
        storage, df).count(), request)


# -- reads -------------------------------------------------------------------
def _hits(rows) -> list[tuple[int, float, int]]:
    return [(int(r["doc_id"]), float(r["score"]),
             text_id_of_path(r["path"])) for r in rows]


def read(ctx: Ctx, eng: Engine, r: Read, request: str) -> dict:
    """One read call, result collected. → a record with the class, the
    latency, whether the scatter path was available, and the result in
    a checkable form."""
    scatter = eng.executor.scatter_ok()
    c = tree_cpu_s(tree_pids(os.getpid()))
    with ctx.tr.span(f"read.{r.cls}", request):
        t = time.perf_counter()
        with ctx.tr.span("parser.parse_args"):
            if r.cls == "msearch":
                sa = {q: parse_args(a) for q, a in r.batch.items()}
            else:
                sa = parse_args(r.args)
        with ctx.tr.span(f"engine.{_method(r.cls)}"):
            if r.cls == "count":
                out = eng.count(sa)
            elif r.cls == "msearch":
                out = eng.msearch(sa).select(
                    "query_id", "doc_id", "score", "path").collect()
            elif r.cls == "facet":
                out = eng.search(sa).facets["lang"].collect()
            else:
                out = eng.search(sa).hits.collect()
        dt = time.perf_counter() - t
    ctx.record(f"read.{r.cls}", dt, request, c)
    if r.cls == "count":
        result = int(out)
    elif r.cls == "msearch":
        by_q: dict[str, list] = {q: [] for q in r.batch}
        for row in out:
            by_q[row["query_id"]].append(row)
        result = {q: sorted(_hits(rows), key=lambda h: (-h[1], h[0]))
                  for q, rows in by_q.items()}
    elif r.cls == "facet":
        result = {row["value"]: int(row["count"]) for row in out}
    else:
        result = _hits(out)
    rec = {"read": r, "request": request, "s": dt, "scatter": scatter,
           "result": result}
    ctx.reads.append(rec)
    return rec


def _method(cls: str) -> str:
    return {"count": "count", "msearch": "msearch"}.get(cls, "search")
