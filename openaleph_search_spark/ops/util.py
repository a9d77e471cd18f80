"""The package's one rule for how many Python tasks work gets.

A Python task costs 0.19-0.30 s of CPU before it evaluates anything,
even on a reused worker (4-vCPU host, pyspark 4.1.2): pyspark's
``setup_spark_files`` calls ``importlib.invalidate_caches()`` on every
task, so each cached ``zipimporter`` re-reads ``pyspark.zip``'s
directory. Work fans out to another task only once that task carries as
much work as the fixed cost, and bounded work that fits one task runs
in the driver. Each per-task budget is measured beside the kernel whose
cost it weighs (``executor._POSTINGS_PER_TASK``,
``mutate.DOCS_PER_COMPACT_TASK``, ``percolate.CHUNK_DOCS``); callers
pass it in.
"""
from __future__ import annotations

import pickle

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def plan_tasks(spark: SparkSession, units: list, work: int,
               per_task: int, bounded: bool = True
               ) -> tuple[list[list], int]:
    """Group ``units`` round-robin (balanced in unit count) into
    ``n = max(1, min(units, cores, ceil(work / per_task)))`` groups →
    ``(groups, tasks)``.

    ``tasks`` is 0, run in the driver, exactly when there is one group,
    ``work <= per_task`` and the output is ``bounded`` (it is gathered
    to the driver anyway); else one task per group. Work held to one
    group only by the unit count or the cores keeps its task, so the
    driver never runs more than ``per_task`` of it. No units → no
    groups, no tasks."""
    if not units:
        return [], 0
    par = spark.sparkContext.defaultParallelism
    n = max(1, min(len(units), par, -(-int(work) // per_task)))
    groups = [units[i::n] for i in range(n)]
    return groups, 0 if n == 1 and work <= per_task and bounded else n


def task_frames(spark: SparkSession, n: int, run, schema) -> DataFrame:
    """One single-stage job of ``n`` tasks, task i yielding the frames
    of ``run([i])``: Range → MapInPandas, no exchange."""
    return (spark.range(0, n, 1, n)
            .mapInPandas(lambda it: (out for pdf in it
                                     for out in run(pdf["id"])),
                         schema))


def gather(spark: SparkSession, groups: list[list], tasks: int,
           run) -> list:
    """Everything ``run(group ids)`` yields for every group, in the
    driver: ``run([0])`` there when ``tasks == 0``, else one
    :func:`task_frames` job whose tasks pickle what they yield back.
    No groups → nothing runs."""
    if not groups:
        return []
    if tasks == 0:
        return list(run([0]))
    rows = task_frames(
        spark, tasks,
        lambda gids: (pd.DataFrame({"obj": [pickle.dumps(o)]})
                      for o in run(gids)),
        "obj binary").collect()
    return [pickle.loads(r["obj"]) for r in rows]


def spread(df: DataFrame, per_task: int, by_bytes: bool = False
           ) -> DataFrame:
    """Fan a batch input with fewer partitions than cores (one file, a
    LocalRelation) out to ``min(cores, ceil(work / per_task))`` tasks;
    a small input keeps its scan's split and takes no Exchange. The
    work is the input files' rows, read from their parquet footers, or
    with ``by_bytes`` their sizes on disk, for a kernel so cheap per
    row that only bulk pays for a shuffle (no job either way). Work
    that can't be sized (no input files, or by rows files that are not
    parquet) spreads to every core. An input with ≥ cores partitions
    opens no file and takes no shuffle. A streaming plan keeps its
    source's splits."""
    if df.isStreaming:
        return df
    import pyarrow.parquet as pq
    from ..index.fsio import resolve
    par = df.sparkSession.sparkContext.defaultParallelism
    have = df.rdd.getNumPartitions()
    if have >= par:
        return df
    files, n = df.inputFiles(), par
    try:
        if files:
            work = sum(fs.get_file_info(p).size if by_bytes else
                       pq.read_metadata(p, filesystem=fs).num_rows
                       for fs, p in map(resolve, files))
            n = min(par, -(-work // per_task))
    except (OSError, ValueError):  # unreadable, or not parquet
        pass
    return df.repartition(n) if n > have else df
