"""CLI — the spark-submit entry point (north_rule: run via
``spark-submit --py-files openaleph_search_spark.zip cli.py ...``).

Mirrors the reference CLI surface
(/root/reference/openaleph_search/cli.py:68-341: upgrade/reset ≈ build,
index-entities ≈ build, search query-string, analyze, percolate-text,
delete) re-based on the code-document table.
"""
from __future__ import annotations

import argparse
import json
import sys


def get_spark(cores: str | None = None):
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("openaleph-search-spark")
    if cores:
        b = b.master(f"local[{cores}]")
    return (b.config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.adaptive.enabled", "true")
            .getOrCreate())



def _read_docs(spark, inp: str):
    """``table:catalog.db.docs`` reads through the configured catalog
    (the Iceberg deployment path); anything else is a parquet path."""
    if inp.startswith("table:"):
        from openaleph_search_spark.sources.code_table import load_table
        return load_table(spark, inp[len("table:"):])
    return spark.read.parquet(inp)


def main(argv=None):
    ap = argparse.ArgumentParser(prog="openaleph-search-spark")
    ap.add_argument("--cores", default=None,
                    help="local[N] override; omit under spark-submit")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True,
                   help="parquet path OR table:<catalog.db.table> of "
                        "docs(repo,path,commit,lang,content)")
    b.add_argument("--output", required=True, help="index directory")
    b.add_argument("--partitions", type=int, default=None)
    b.add_argument("--shards", type=int, default=8)
    b.add_argument("--no-positions", action="store_true")
    b.add_argument("--no-resume", action="store_true")

    s = sub.add_parser("search", help="query-string search")
    s.add_argument("--index", required=True)
    s.add_argument("--q", required=True)
    s.add_argument("--limit", type=int, default=10)
    s.add_argument("--filter", action="append", default=[],
                   help="field=value (repeatable)")
    s.add_argument("--facet", action="append", default=[])

    a = sub.add_parser("analyze", help="tokenize text with the analyzer")
    a.add_argument("text")

    p = sub.add_parser("percolate-text",
                       help="match a document against a watchlist")
    p.add_argument("--watchlist", required=True,
                   help="jsonl of {entity_id, names, other_names}")
    p.add_argument("text")

    d = sub.add_parser("delete", help="tombstone docs by filter")
    d.add_argument("--index", required=True)
    d.add_argument("--filter", action="append", default=[], required=True)

    c = sub.add_parser("compact",
                       help="fold tombstones in, refresh stats")
    c.add_argument("--index", required=True)

    e = sub.add_parser("export", help="query-filtered doc export")
    e.add_argument("--index", required=True)
    e.add_argument("--q", default=None)
    e.add_argument("--filter", action="append", default=[])
    e.add_argument("--output", required=True, help="parquet output path")
    e.add_argument("--exclude-fields", default=None,
                   help="comma-separated columns to drop")

    u = sub.add_parser("upsert", help="upsert docs from a parquet table")
    u.add_argument("--index", required=True)
    u.add_argument("--input", required=True)

    st_ = sub.add_parser("stats", help="index statistics (ES _stats role)")
    st_.add_argument("--index", required=True)

    ex_ = sub.add_parser("explain",
                         help="planner debug for a query string")
    ex_.add_argument("--index", required=True)
    ex_.add_argument("--q", required=True)
    ex_.add_argument("--limit", type=int, default=10)

    rw = sub.add_parser("register-watchlist",
                        help="persist watchlist queries in the index "
                             "(register once, percolate many times)")
    rw.add_argument("--index", required=True)
    rw.add_argument("--watchlist", required=True,
                    help="jsonl of {entity_id, names, other_names}")

    pc = sub.add_parser("percolate",
                        help="batch-percolate a parquet doc table "
                             "against the index's registered watchlist")
    pc.add_argument("--index", required=True)
    pc.add_argument("--input", required=True)
    pc.add_argument("--output", required=True,
                    help="parquet alert output path")

    args = ap.parse_args(argv)

    if args.cmd == "analyze":  # no Spark needed
        from openaleph_search_spark.analysis.analyzer import analyze_text
        print(json.dumps(analyze_text(args.text)))
        return 0

    if args.cmd == "percolate-text":
        from openaleph_search_spark.query.percolate import (
            compile_watchlist, percolate_text)
        rows = [json.loads(line) for line in open(args.watchlist)
                if line.strip()]
        out = percolate_text(args.text, compile_watchlist(rows))
        print(json.dumps(out))
        return 0

    from pyspark.sql import SparkSession
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(args.cores)
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.cmd == "build":
            from openaleph_search_spark.index.build import build_index
            docs = _read_docs(spark, args.input)
            st = build_index(spark, docs, args.output,
                             num_partitions=args.partitions,
                             num_shards=args.shards,
                             with_positions=not args.no_positions,
                             resume=not args.no_resume)
            print(json.dumps(st.read_meta()))
        elif args.cmd == "search":
            from openaleph_search_spark.query.engine import Engine
            eng = Engine(spark, args.index)
            req = {"q": args.q, "limit": args.limit}
            for f in args.filter:
                k, _, v = f.partition("=")
                req[f"filter:{k}"] = v
            for f in args.facet:
                req.setdefault("facet", []).append(f)
            res = eng.search(req)
            for r in res.hit_rows(0, args.limit):
                print(json.dumps({k: v for k, v in r.items()
                                  if k != "content"}, default=str))
            for f, df in res.facets.items():
                print(json.dumps({"facet": f, "buckets": [
                    r.asDict() for r in df.collect()]}))
        elif args.cmd == "delete":
            from pyspark.sql import functions as F
            from openaleph_search_spark.index.mutate import delete_docs
            from openaleph_search_spark.index.storage import IndexStorage
            pred = None
            for f in args.filter:
                k, _, v = f.partition("=")
                c = F.col(k) == v
                pred = c if pred is None else (pred & c)
            n = delete_docs(spark, IndexStorage(args.index), pred)
            print(json.dumps({"tombstoned": n}))
        elif args.cmd == "compact":
            from openaleph_search_spark.index.mutate import compact
            from openaleph_search_spark.index.storage import IndexStorage
            st = IndexStorage(args.index)
            stats = compact(spark, st)
            print(json.dumps({**st.read_meta(), "compact": stats}))
        elif args.cmd == "export":
            from openaleph_search_spark.query.engine import Engine
            eng = Engine(spark, args.index)
            req = {}
            if args.q:
                req["q"] = args.q
            for f in args.filter:
                k, _, v = f.partition("=")
                req[f"filter:{k}"] = v
            excl = (args.exclude_fields.split(",")
                    if args.exclude_fields else None)
            out = eng.export(req, exclude_fields=excl)
            out.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"exported": out.count(),
                              "output": args.output}))
        elif args.cmd == "upsert":
            from openaleph_search_spark.index.mutate import upsert_docs
            from openaleph_search_spark.index.storage import IndexStorage
            docs = _read_docs(spark, args.input)
            upsert_docs(spark, IndexStorage(args.index), docs)
            print(json.dumps({"upserted": docs.count()}))
        elif args.cmd == "stats":
            from openaleph_search_spark.query.engine import Engine
            print(json.dumps(Engine(spark, args.index).stats()))
        elif args.cmd == "explain":
            from openaleph_search_spark.query.engine import Engine
            eng = Engine(spark, args.index)
            print(json.dumps(eng.explain(
                {"q": args.q, "limit": args.limit})))
        elif args.cmd == "register-watchlist":
            from openaleph_search_spark.index.storage import IndexStorage
            from openaleph_search_spark.query.percolate import (
                register_watchlist)
            rows = [json.loads(line) for line in open(args.watchlist)
                    if line.strip()]
            n = register_watchlist(IndexStorage(args.index), rows)
            print(json.dumps({"registered": n}))
        elif args.cmd == "percolate":
            from openaleph_search_spark.index.storage import IndexStorage
            from openaleph_search_spark.query.percolate import (
                percolate_index)
            docs = _read_docs(spark, args.input)
            alerts = percolate_index(IndexStorage(args.index), docs)
            alerts.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"alerts": alerts.count(),
                              "output": args.output}))
    finally:
        if owns_session:  # embedded callers keep their session
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
