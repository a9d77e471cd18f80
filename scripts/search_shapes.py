"""Spark jobs, tasks and warm wall time of each search shape that is not
a plain top-k: a key sort, a search_after page, function_score,
with_total, a post-filtered facet, a facet beside hits and a
facet_total, with a plain top-10 as the baseline.

Each shape is run once to warm the Engine, then ``--reps`` times. The
jobs and tasks of one warm call are read from Spark's public status
tracker through a job group (as ``tests/conftest.spark_jobs`` does);
the wall time is the median of the timed calls. Every call collects
what the shape returns: hits, total, facet buckets and facet totals.
``digest`` is a hash of those rows, so two checkouts' runs can be
compared for identical results.

Usage:
    python scripts/search_shapes.py [--master local[2]] [--reps 5]
        [--sf-dir <corpus dir> --replicate 1] [--postings-per-task N]
        [--work /tmp/search_shapes]

Without ``--sf-dir`` the index is the test fixture's (tests/conftest.py:
10 docs, 4 parts, 2 shards). ``--postings-per-task 1`` sets the scatter's
per-task postings budget low, so every read fans out to one task per
group (the ≥2-group job path).
"""
from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def shapes(eng, q: str) -> dict:
    """name → (search args, with_total). The search_after cursor is the
    third row of the ``sort=path`` page, the post-filter value the
    query's most frequent lang."""
    top = eng.search({"q": q, "sort": "path", "limit": 3}).hits.collect()
    lang = eng.search({"q": q, "facet": "lang",
                       "limit": 0}).facets["lang"].collect()[0]["value"]
    cur = top[-1]
    return {
        "plain top-10": ({"q": q, "limit": 10}, False),
        "sort=path": ({"q": q, "sort": "path", "limit": 10}, False),
        "sort + search_after": ({"q": q, "sort": "path", "limit": 10,
                                 "search_after": [cur["path"],
                                                  str(cur["doc_id"])]},
                                False),
        "function_score": ({"q": q, "function_score": "true",
                            "limit": 10}, False),
        "with_total=True": ({"q": q, "limit": 10}, True),
        "facet=lang + filter:lang, limit=0": ({
            "q": q, "facet": "lang", "filter:lang": lang, "limit": 0},
            False),
        "facet=lang, limit=10": ({"q": q, "facet": "lang", "limit": 10},
                                 False),
        "facet_total:lang, limit=0": ({
            "q": q, "facet": "lang", "facet_total:lang": "true",
            "limit": 0}, False),
    }


def read(eng, args: dict, with_total: bool) -> list:
    """Everything the search returns, collected."""
    res = eng.search(args, with_total=with_total)
    return [[tuple(r) for r in res.hits.collect()], res.total,
            {f: [tuple(r) for r in d.collect()]
             for f, d in sorted(res.facets.items())},
            {f: [tuple(r) for r in d.collect()]
             for f, d in sorted(res.facet_totals.items())}]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default="local[2]")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sf-dir", default=None)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--q", default=None,
                    help="query (default: 'banana OR kwazulu OR crime' on "
                         "the fixture, 'vector OR merge' on --sf-dir)")
    ap.add_argument("--postings-per-task", type=int, default=None)
    ap.add_argument("--work", default="/tmp/search_shapes")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(args.master)
             .appName("search-shapes")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine

    shutil.rmtree(args.work, ignore_errors=True)
    idx = os.path.join(args.work, "idx")
    if args.sf_dir:
        from openaleph_search_spark.sources.code_table import load_docs
        docs = load_docs(spark, args.sf_dir, replicate=args.replicate)
        build_index(spark, docs, idx, num_partitions=4, num_shards=4)
        q = args.q or "vector OR merge"
    else:
        from tests.conftest import FIXTURE_DOCS
        docs = spark.createDataFrame(
            FIXTURE_DOCS, "repo string, path string, commit string, "
                          "lang string, content string")
        build_index(spark, docs, idx, num_partitions=4, num_shards=2)
        q = args.q or "banana OR kwazulu OR crime"
    if args.postings_per_task is not None:
        xmod._POSTINGS_PER_TASK = args.postings_per_task
    eng = Engine(spark, idx)
    sc = spark.sparkContext
    st = sc.statusTracker()
    print(f"host cores={os.cpu_count()} master={args.master} "
          f"docs={eng.executor.meta['n_docs']} "
          f"parts={len(eng.executor._scatter_layout()['parts'])} q={q!r}")
    print(f"{'shape':38s} {'jobs':>4s} {'tasks':>5s} {'wall_ms':>8s}  "
          "digest")
    for name, (sargs, with_total) in shapes(eng, q).items():
        out = read(eng, sargs, with_total)  # warm
        group = f"search-shapes-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            read(eng, sargs, with_total)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = st.getJobIdsForGroup(group)
        tasks = sum(st.getStageInfo(s).numTasks for j in jobs
                    for s in st.getJobInfo(j).stageIds)
        walls = []
        for _ in range(args.reps):
            t = time.perf_counter()
            read(eng, sargs, with_total)
            walls.append(time.perf_counter() - t)
        digest = hashlib.sha1(repr(out).encode()).hexdigest()[:10]
        print(f"{name:38s} {len(jobs):4d} {tasks:5d} "
              f"{1000 * statistics.median(walls):8.0f}  {digest}")
    spark.stop()


if __name__ == "__main__":
    main()
