"""Physical-plan assertions: the things `.explain` must show for the
engine to be scan-efficient at 100 TB (filter pushdown, column pruning,
partition pruning) — SURVEY.md §4.2 — and the job counts and results
of the scatter, the one query executor, against the pure-Python BM25
oracle and the doc_meta rows."""
import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from openaleph_search_spark.index.storage import IndexStorage
from tests.conftest import FIXTURE_DOCS
from tests.oracle import OracleIndex

TOL = 1e-9
# a session stand-in for ops.util.plan_tasks: one core, so the plan
# holds one group whatever its work
_ONE_CORE = SimpleNamespace(
    sparkContext=SimpleNamespace(defaultParallelism=1))


def _oracle(eng, docs=FIXTURE_DOCS) -> OracleIndex:
    """The BM25 oracle over ``docs`` (conftest row shape), keyed by the
    doc ids ``eng``'s index assigned (tombstoned docs included)."""
    ids = {r["path"]: r["doc_id"] for r in eng.storage.doc_meta(
        eng.spark).select("doc_id", "path").collect()}
    return OracleIndex({ids[d[1]]: d[4] for d in docs if d[1] in ids})


def _assert_scores(rows, want: dict):
    """(doc_id, score) rows hold exactly ``want``'s docs and scores."""
    got = {r[0]: r[1] for r in rows}
    assert got.keys() == want.keys(), (got, want)
    assert all(abs(got[d] - want[d]) < TOL for d in want), (got, want)


def _assert_hits(rows, want: list, meta: dict):
    """Hit rows (doc_id, score, …meta) equal the oracle's ranked
    (doc_id, score) list, each hydrated with its doc_meta row."""
    assert [r[0] for r in rows] == [d for d, _ in want], (rows, want)
    for r, (d, sc) in zip(rows, want):
        assert abs(r[1] - sc) < TOL and tuple(r[2:]) == meta[d], (r, d)


@pytest.fixture(scope="module")
def oracle(fixture_engine):
    return _oracle(fixture_engine)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _filescan_lines(plan: str) -> list[str]:
    return [ln for ln in plan.split("\n") if "FileScan" in ln]


def test_term_filter_pushed_to_postings_scan(spark, fixture_index):
    st = IndexStorage(fixture_index)
    df = st.postings(spark).filter(F.col("term").isin(["banana", "crime"]))
    plan = _plan(df)
    assert "banana" in plan
    scan = _filescan_lines(plan)[0]
    assert "term" in scan and "IN (banana,crime)" in plan.replace(
        "term#", "term").split("DataFilters")[1][:200] or "In(term" in plan


def test_shard_partition_pruning(spark, fixture_index):
    st = IndexStorage(fixture_index)
    df = st.postings(spark).filter(F.col("shard") == 1)
    plan = _plan(df)
    # partition column filter → PartitionFilters, not a data filter
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "shard" in pf


def test_doc_meta_column_pruning(spark, fixture_index):
    st = IndexStorage(fixture_index)
    df = (st.doc_meta(spark).filter(F.col("lang") == "go")
          .select("doc_id", "lang"))
    plan = _plan(df)
    scan = _filescan_lines(plan)[0]
    assert "content_sha256" not in scan  # unused columns not read
    assert "PushedFilters" in plan and "lang" in plan


def test_positions_column_pruned_for_nonphrase(spark, fixture_engine,
                                               monkeypatch, spark_jobs,
                                               oracle):
    """A term query must not read pos_payload — asserted on the
    scatter read set explain() reports and on the scatter job it runs
    with ≥2 groups, whose scores are the oracle's."""
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.ir import TermLeaf
    ex = fixture_engine.executor
    assert ex.scatter_ok()
    e = fixture_engine.explain({"q": "banana", "limit": 10})
    assert "pos_payload" not in e["scatter_columns"]
    assert "docs_payload" in e["scatter_columns"]
    assert not e["needs_positions"]
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)  # ≥2 groups
    tasks = fixture_engine.explain({"q": "banana"})["scatter_tasks"]
    assert tasks >= 2
    res = ex.run(TermLeaf("banana"), k=10)
    plan = _plan(res)
    assert "MapInPandas" in plan and "Exchange" not in plan
    rows, jobs = spark_jobs(res.collect)
    assert jobs == [[tasks]]
    _assert_scores(rows, oracle.or_query(["banana"]))


def test_positions_column_read_for_phrase(spark, fixture_engine,
                                          monkeypatch, spark_jobs, oracle):
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.ir import PhraseLeaf
    ex = fixture_engine.executor
    e = fixture_engine.explain({"q": '"banana crime"', "limit": 10})
    assert "pos_payload" in e["scatter_columns"]
    assert e["needs_positions"]
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)  # ≥2 groups
    tasks = fixture_engine.explain({"q": '"banana crime"'})["scatter_tasks"]
    assert tasks >= 2
    res = ex.run(PhraseLeaf(["banana", "crime"]), k=10)
    assert "MapInPandas" in _plan(res)
    rows, jobs = spark_jobs(res.collect)
    assert jobs == [[tasks]]
    _assert_scores(rows, oracle.phrase_query(["banana", "crime"]))


def test_ann_bucket_filter_pushed_to_scan(spark, tmp_path):
    """VERDICT r1: the ANN Hamming-ball filter must prune on a STORED
    column pushed into the parquet scan — no UDF before the filter."""
    import numpy as np
    from openaleph_search_spark.ops.similarity import (
        lsh_cosine_topk, with_ann_buckets)
    rng = np.random.RandomState(3)
    rows = [(i, rng.standard_normal(16).astype("float32").tolist())
            for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bdir = str(tmp_path / "emb_bucketed")
    with_ann_buckets(emb, n_planes=8, seed=5).write.parquet(bdir)
    stored = spark.read.parquet(bdir)
    probe = rows[0][1]
    out = lsh_cosine_topk(stored, probe, k=5, n_planes=8, probe_radius=2,
                          seed=5, bucket_name="ann_bucket")
    plan = _plan(out)
    scan = [ln for ln in plan.split("\n") if "FileScan" in ln]
    assert scan, plan
    # the isin list reaches PushedFilters (In(ann_bucket, ...))
    assert "PushedFilters" in plan and "ann_bucket" in \
        plan.split("PushedFilters:")[1].split("]")[0], plan
    # and no python UDF evaluates before the scan filter
    pre_topk = plan.split("FileScan")[0]
    assert "ArrowEvalPython" not in pre_topk.split("mapInPandas")[0]
    # results equal the brute-force path restricted to the ball
    from openaleph_search_spark.ops.similarity import cosine_topk
    got = {(r["vec_id"], r["cosine"]) for r in out.collect()}
    brute = lsh_cosine_topk(emb, probe, k=5, n_planes=8, probe_radius=2,
                            seed=5)
    want = {(r["vec_id"], r["cosine"]) for r in brute.collect()}
    assert got == want


def test_topk_hydrate_zero_exchange(spark, fixture_engine, monkeypatch,
                                    spark_jobs, oracle):
    """With ≥2 groups the scatter top-k path is ONE single-stage job
    (Range → MapInPandas: no Exchange, no join), one task per group,
    each evaluating and hydrating its group. The global cut runs on the
    gathered rows in the driver, so the hits are a LocalRelation that
    reads with no further job."""
    from openaleph_search_spark.query import executor as xmod
    args = {"q": "banana crime", "limit": 5}
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)  # ≥2 groups
    tasks = fixture_engine.explain(args)["scatter_tasks"]
    assert tasks >= 2
    res, jobs = spark_jobs(lambda: fixture_engine.search(args))
    assert jobs == [[tasks]]  # one job, one stage: no exchange
    plan = _plan(res.hits)
    assert "LocalTableScan" in plan
    assert "Exchange" not in plan and "Join" not in plan
    got, jobs = spark_jobs(lambda: [tuple(r) for r in res.hits.collect()])
    assert jobs == []
    # schema order stays (doc_id, score, ...meta) — the entry/oracle
    # compare and SearchResult docstring both rely on it — with
    # doc_meta's types, and each hit carries its doc_meta row
    dm = fixture_engine.doc_meta
    assert res.hits.dtypes == [("doc_id", "bigint"), ("score", "double"),
                               *dm.dtypes[1:]]
    meta = {r[0]: tuple(r[1:]) for r in dm.collect()}
    _assert_hits(got, oracle.topk(oracle.and_query(["banana", "crime"]),
                                  5), meta)


def test_run_multi_single_pass(spark, fixture_engine, monkeypatch,
                               spark_jobs, oracle):
    """N query trees → ONE scatter pass, not N unioned plans: with ≥2
    groups, one single-stage job with one task per group, and the
    gathered per-tree top-k come back as a LocalRelation."""
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.parser import parse_query_string
    trees = {f"q{i}": parse_query_string(t)
             for i, t in enumerate(["banana", "kwazulu", "crime wave"])}
    ex = fixture_engine.executor
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)  # ≥2 groups
    groups = ex._scatter_plan(list(trees.values()), 5, "multi")[-1]
    assert len(groups) >= 2
    df, jobs = spark_jobs(lambda: ex.run_multi(trees, k=5))
    assert jobs == [[len(groups)]]
    plan = _plan(df)
    assert "LocalTableScan" in plan
    assert "Union" not in plan and "Exchange" not in plan
    # every tree matches < 5 fixture docs: each returns all its matches
    rows = df.collect()
    for eid, want in {"q0": oracle.or_query(["banana"]),
                      "q1": oracle.or_query(["kwazulu"]),
                      "q2": oracle.and_query(["crime", "wave"])}.items():
        _assert_scores([r for r in rows if r["entity_id"] == eid], want)


def test_scatter_matches_oracle_everywhere(spark, fixture_docs_df,
                                           tmp_path, monkeypatch):
    """Every read the scatter serves — top-k, count, facets and msearch,
    with string filters, excludes, an int range and a partial-date
    range — equals an independent reference: the BM25 oracle, with the
    filters and facet values applied in pandas to the fixture rows. The
    index is built, compacted, then tombstoned again. compact()
    refreshes df/N/avgdl and a delete does not, so the oracle holds the
    docs live at the compaction and the later victim is dropped from
    its results. Each case also runs with every part in ONE group and
    with one group PER part: the planned fan-out and one group evaluate
    in the driver, one group per part runs a Spark job."""
    import datetime as dt
    import zlib

    import pandas as pd
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.index.mutate import compact, delete_docs
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine

    utc = dt.timezone.utc

    def created(path):
        if path.endswith("empty.txt"):
            return None
        return (dt.datetime(2021, 3, 4, 5, 6, 7, tzinfo=utc)
                + dt.timedelta(days=zlib.crc32(path.encode()) % 400))

    rows = [(*d, created(d[1])) for d in FIXTURE_DOCS]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, created timestamp")
    idx = str(tmp_path / "idx_oracle")
    st = build_index(spark, docs, idx, num_partitions=4, num_shards=2,
                     meta_cols=["created"])
    delete_docs(spark, st, F.col("path") == "a/banana.txt")
    compact(spark, st)
    delete_docs(spark, st, F.col("path") == "a/kwazulu.txt")
    eng = Engine(spark, idx)
    assert len(eng.executor._scatter_layout()["parts"]) > 1
    assert eng.stats()["tombstoned_docs"] == 1

    live_at_compact = [r for r in rows if r[1] != "a/banana.txt"]
    o = _oracle(eng, live_at_compact)
    ids = {r["path"]: r["doc_id"] for r in
           eng.doc_meta.select("doc_id", "path").collect()}
    fx = pd.DataFrame(
        [(ids[r[1]], r[0], r[3], o.doc_len[ids[r[1]]], r[5])
         for r in live_at_compact if r[1] in ids],
        columns=["doc_id", "repo", "lang", "doc_len", "created"]
    ).set_index("doc_id")
    assert "a/kwazulu.txt" not in ids and len(fx) == len(ids) == 8

    def live(scores):  # the oracle's matches minus the later victim
        return {d: v for d, v in scores.items() if d in fx.index}

    W = "banana OR kwazulu OR crime OR chairman OR igumnov"
    wide = live(o.or_query(["banana", "kwazulu", "crime", "chairman",
                            "igumnov"]))
    scores = {"banana crime": live(o.and_query(["banana", "crime"])),
              '"banana crime"': live(o.phrase_query(["banana", "crime"])),
              W: wide}
    ts = lambda s: pd.Timestamp(s, tz="UTC")  # noqa: E731
    filtered = [  # (args, the filter applied in pandas)
        ({"q": "banana crime"}, lambda m: m.lang.notna()),
        ({"q": '"banana crime"'}, lambda m: m.lang.notna()),
        ({"q": W, "filter:lang": "txt"}, lambda m: m.lang == "txt"),
        ({"q": W, "filter:repo": ["r1", "r2"], "exclude:lang": "txt"},
         lambda m: m.repo.isin(["r1", "r2"]) & (m.lang != "txt")),
        ({"q": W, "filter:gte:doc_len": "5"}, lambda m: m.doc_len >= 5),
        ({"q": W, "filter:gte:created": "2021-06",
          "filter:lte:created": "2021-12"},
         lambda m: (m.created >= ts("2021-06-01"))
         & (m.created < ts("2022-01-01"))),
    ]

    def matches(args, pred):
        keep = set(fx.index[pred(fx).fillna(False).to_numpy(bool)])
        return {d: v for d, v in scores[args["q"]].items() if d in keep}

    def counts(ids_, field):
        vc = fx.loc[sorted(ids_), field].dropna().value_counts()
        return sorted(vc.items(), key=lambda x: (-x[1], x[0]))

    meta = {r[0]: tuple(r[1:]) for r in eng.doc_meta.collect()}
    plan = xmod.plan_tasks
    fanouts = {
        "planned": plan,
        # one group: in the driver when its work fits, else one task
        "one_group": lambda spark, units, work, per, bounded: plan(
            _ONE_CORE, units, work, per, bounded),
        "group_per_part": lambda spark, units, work, per, bounded: (
            [[u] for u in units], len(units)),
    }
    for name, fn in fanouts.items():
        monkeypatch.setattr(xmod, "plan_tasks", fn)
        for args, pred in filtered:
            want = matches(args, pred)
            hits = eng.search({**args, "limit": 3}).hits.collect()
            _assert_hits(hits, o.topk(want, 3), meta)
            assert eng.count(args) == len(want), (name, args)
            f = "repo" if "filter:lang" in args else "lang"
            got = eng.search({**args, "facet": f, "limit": 0})
            assert [tuple(r) for r in got.facets[f].collect()] \
                == counts(want, f), (name, args)
        # the facet-interplay branch: each facet sees the OTHER facets'
        # filters only, the hits see all of them
        res = eng.search({"q": W, "facet": ["lang", "repo"],
                          "filter:repo": "r2", "limit": 10},
                         with_total=True)
        r2 = {d for d in wide if fx.repo[d] == "r2"}
        assert [tuple(r) for r in res.facets["lang"].collect()] \
            == counts(r2, "lang"), name
        assert [tuple(r) for r in res.facets["repo"].collect()] \
            == counts(wide, "repo"), name
        assert res.total == len(r2)
        _assert_hits(res.hits.select("doc_id", "score",
                                     *eng.doc_meta.columns[1:]).collect(),
                     o.topk({d: wide[d] for d in r2}, 10), meta)
        ms = eng.msearch({"a": {"q": "banana"}, "b": {"q": W}}, k=3)
        for qid, want in {"a": live(o.or_query(["banana"])),
                          "b": wide}.items():
            got = [(r[0], r[1], *r[3:]) for r in ms.collect()
                   if r["query_id"] == qid]
            _assert_hits(sorted(got, key=lambda r: (-r[1], r[0])),
                         o.topk(want, 3), meta)
    monkeypatch.undo()


def test_task_sizing_lives_in_one_module():
    """How many Python tasks work gets is decided in ops/util.py only:
    the core count, the Range job and the private ``_jdf`` handle
    appear nowhere else in the package but the input sources and the
    index build (which sizes its own parts)."""
    import pathlib
    import openaleph_search_spark
    root = pathlib.Path(openaleph_search_spark.__file__).parent
    allowed = ("ops/util.py", "sources/", "index/build.py")
    found = [
        (rel, word) for path in sorted(root.rglob("*.py"))
        for rel in [path.relative_to(root).as_posix()]
        if not rel.startswith(allowed)
        for word in ("defaultParallelism", "spark.range(", "._jdf")
        if word in path.read_text()]
    assert found == []


def test_index_file_set_lives_in_one_module():
    """Which files make up the index is known to index/storage.py only:
    the part file names (``PART_FILE``, ``shard=``, ``fields_part=``)
    appear nowhere else in the package, and nothing else lists a
    directory but the filesystem adapter, the version dirs and the
    percolator's watchlist registry."""
    import pathlib
    import openaleph_search_spark
    root = pathlib.Path(openaleph_search_spark.__file__).parent
    rules = {("PART_FILE", "shard=", "fields_part="): (
                 "index/storage.py",),
             ("listdir(", "FileSelector("): (
                 "index/storage.py", "index/fsio.py", "index/versions.py",
                 "query/percolate.py")}
    found = [
        (rel, word) for path in sorted(root.rglob("*.py"))
        for rel in [path.relative_to(root).as_posix()]
        for words, allowed in rules.items() if rel not in allowed
        for word in words if word in path.read_text()]
    assert found == []


def test_engine_lists_each_directory_once(spark, fixture_index, tmp_path,
                                          monkeypatch):
    """Opening an Engine and reading through it lists the doc_meta,
    manifest, tombstones and term_stats directories once each, and no
    postings directory: the live parts come from the manifests and
    their files from ``IndexStorage.part_path``."""
    import shutil
    from openaleph_search_spark.index.fsio import FsIO
    from openaleph_search_spark.index.mutate import delete_by_ids
    from openaleph_search_spark.query.engine import Engine
    idx = str(tmp_path / "idx_listing")
    shutil.copytree(fixture_index, idx)
    delete_by_ids(spark, IndexStorage(idx), [0])
    listed = []
    real = FsIO.listdir
    monkeypatch.setattr(FsIO, "listdir", lambda self, uri: (
        listed.append(uri[len(idx) + 1:]), real(self, uri))[1])
    eng = Engine(spark, idx)
    eng.search({"q": "banana", "limit": 5}).hits.collect()
    eng.search({"limit": 5}).hits.collect()
    eng.count({"q": "ban* OR crime"})
    eng.stats()
    assert sorted(listed) == ["doc_meta", "manifest", "term_stats",
                              "tombstones"]


def test_explain_reports_scatter_fanout(spark, fixture_engine,
                                        monkeypatch, spark_jobs):
    """explain() reports the fan-out _scatter_exec would plan: 0 tasks
    (driver evaluation) for a small bounded read, min(parts,
    defaultParallelism) once est_postings exceeds par ×
    _POSTINGS_PER_TASK — and the search runs exactly that many Spark
    tasks."""
    import pyarrow.parquet as pq
    from openaleph_search_spark.query import executor as xmod
    ex = fixture_engine.executor
    parts = len(ex._scatter_layout()["parts"])
    par = spark.sparkContext.defaultParallelism
    ts = pq.read_table(fixture_engine.storage.term_stats_dir,
                       columns=["term", "df"]).to_pydict()
    df = dict(zip(ts["term"], ts["df"]))
    args = {"q": "banana crime", "limit": 10}

    e = fixture_engine.explain(args)
    assert e["strategy"] == "topk_scatter_gather"
    assert e["est_postings"] == df["banana"] + df["crime"]
    assert e["scatter_tasks"] == 0
    # the planned fan-out is the one the search runs: no job at all
    assert spark_jobs(
        lambda: fixture_engine.search(args).hits.collect())[1] == []
    # an unbounded full match keeps its one-task job
    assert fixture_engine.explain(
        {"q": "banana crime", "sort": "doc_len"})["scatter_tasks"] == 1

    # a query larger than par tasks' worth of postings fans out fully
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK",
                        max(1, e["est_postings"] // (par + 1)))
    big = fixture_engine.explain(args)
    assert big["scatter_tasks"] == min(parts, par)
    assert spark_jobs(
        lambda: fixture_engine.search(args).hits.collect())[1] \
        == [[min(parts, par)]]
    n = min(parts, par, -(-df["banana"] // xmod._POSTINGS_PER_TASK))
    assert fixture_engine.explain(
        {"q": "banana", "facet": "lang", "limit": 0})["scatter_tasks"] \
        == (0 if n == 1 else n)
    monkeypatch.undo()

    # a match-all is a scatter read like any other
    assert fixture_engine.explain({"limit": 10})["scatter_tasks"] == 0
    # a range filter evaluates in the groups like any other filter
    assert fixture_engine.explain(
        {"q": "banana", "filter:gte:doc_len": "3",
         "limit": 10})["scatter_tasks"] == 0


def test_small_reads_run_zero_jobs(spark, fixture_index, tmp_path,
                                   monkeypatch, spark_jobs):
    """On a tombstoned index, a small top-k search, a filtered one,
    count, a one-facet search and msearch — and range-filtered top-k,
    count and facet reads — evaluate in the driver: zero Spark jobs
    from the call to the collected result. With
    _POSTINGS_PER_TASK patched low each runs exactly ONE job of
    min(parts, defaultParallelism) tasks — or of one task when the plan
    is capped to one group — with the same results."""
    import shutil
    from openaleph_search_spark.index.mutate import delete_by_ids
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    mdir = str(tmp_path / "idx_tomb")
    shutil.copytree(fixture_index, mdir)
    victim = Engine(spark, mdir).search(
        {"q": "banana", "limit": 1}).hits.collect()[0]["doc_id"]
    delete_by_ids(spark, IndexStorage(mdir), [victim])
    eng = Engine(spark, mdir)
    wide = "banana OR kwazulu OR crime"
    ranged = {"q": wide, "filter:gte:doc_len": "3"}
    searches = [{"q": wide, "limit": 5},
                {"q": wide, "filter:lang": "txt", "limit": 5},
                {"q": wide, "facet": "lang", "limit": 0},
                {**ranged, "limit": 10},
                {**ranged, "facet": "lang", "limit": 0}]
    reads = {
        "search": lambda: eng.search(searches[0]).hits.collect(),
        "filtered": lambda: eng.search(searches[1]).hits.collect(),
        "facet": lambda: eng.search(searches[2]).facets["lang"].collect(),
        "count": lambda: eng.count({"q": wide}),
        "range_search": lambda: eng.search(searches[3]).hits.collect(),
        "range_facet": lambda: eng.search(
            searches[4]).facets["lang"].collect(),
        "range_count": lambda: eng.count(ranged),
        "msearch": lambda: eng.msearch(
            {"a": {"q": wide}, "b": {"q": "crime wave"}}, k=3).select(
            "query_id", "doc_id", "score", "path").collect(),
    }
    for fn in reads.values():  # warm: doc_meta schema, tombstones
        fn()
    assert all(eng.explain(a)["scatter_tasks"] == 0 for a in searches)
    want = {}
    for name, fn in reads.items():
        want[name], jobs = spark_jobs(fn)
        assert jobs == [], name
    assert all(r["doc_id"] != victim for r in want["search"])

    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)
    n = min(len(eng.executor._scatter_layout()["parts"]),
            spark.sparkContext.defaultParallelism)
    assert n >= 2
    for name, fn in reads.items():
        got, jobs = spark_jobs(fn)
        assert jobs == [[n]], name
        assert got == want[name], name
    # a plan held to one group by its caps, not by its work, keeps its
    # task: the driver never evaluates more than _POSTINGS_PER_TASK
    plan = xmod.plan_tasks
    monkeypatch.setattr(xmod, "plan_tasks",
                        lambda spark, units, work, per, bounded: plan(
                            _ONE_CORE, units, work, per, bounded))
    for name, fn in reads.items():
        got, jobs = spark_jobs(fn)
        assert jobs == [[1]], name
        assert got == want[name], name


def test_every_tree_shape_runs_no_job(spark, fixture_index, spark_jobs):
    """A match-all and a root pure-NOT are scatter trees like any
    other: on the fixture index (a one-group plan) their top-k, count,
    facet, filtered and msearch reads run no Spark job, a fresh
    Engine's first read included. A match-all's hits are the live docs
    in _doc order, a pure-NOT's every doc but the banned ones, both at
    score 0.0."""
    from collections import Counter
    from openaleph_search_spark.query.engine import Engine
    ref = Engine(spark, fixture_index)
    meta = {r[0]: tuple(r[1:]) for r in ref.doc_meta.collect()}
    lang = {d: m[ref.doc_meta.columns.index("lang") - 1]
            for d, m in meta.items()}
    everyone = sorted(meta)
    banned = set(_oracle(ref).or_query(["banana"]))
    nots = [d for d in everyone if d not in banned]
    eng = Engine(spark, fixture_index)
    reads = {
        "match_all": lambda: eng.search({"limit": 10}).hits.collect(),
        "pure_not": lambda: eng.search(
            {"q": "-banana", "limit": 10}).hits.collect(),
        "count_all": lambda: eng.count({}),
        "count_not": lambda: eng.count({"q": "-banana"}),
        "facet": lambda: eng.search(
            {"facet": "lang", "limit": 0}).facets["lang"].collect(),
        "filtered": lambda: eng.search(
            {"filter:lang": "txt", "limit": 10}).hits.collect(),
        "msearch": lambda: eng.msearch(
            {"a": {}, "b": {"q": "-banana"}}, k=10).collect(),
    }
    got = {}
    for name, fn in reads.items():
        got[name], jobs = spark_jobs(fn)
        assert jobs == [], name
    assert len(everyone) == 10 and len(nots) == 8
    _assert_hits(got["match_all"], [(d, 0.0) for d in everyone], meta)
    _assert_hits(got["pure_not"], [(d, 0.0) for d in nots], meta)
    assert (got["count_all"], got["count_not"]) == (10, 8)
    assert [tuple(r) for r in got["facet"]] == sorted(
        Counter(lang.values()).items(), key=lambda kv: (-kv[1], kv[0]))
    _assert_hits(got["filtered"],
                 [(d, 0.0) for d in everyone if lang[d] == "txt"], meta)
    assert sorted((r["query_id"], r["doc_id"], r["score"])
                  for r in got["msearch"]) == [
        *(("a", d, 0.0) for d in everyone),
        *(("b", d, 0.0) for d in nots)]


def test_bounded_reads_never_build_doc_meta(spark, fixture_index,
                                            monkeypatch):
    """Bounded reads plan from meta.json's doc_meta schema: with the
    Spark doc_meta relation made unbuildable, a fresh Engine's top-k,
    count, terms facet, msearch, explain and stats give the rows they
    gave before, for a plain, a match-all and a pure-NOT query."""
    from openaleph_search_spark.query.engine import Engine

    def reads(eng):
        out = []
        for q in ({"q": "banana OR kwazulu"}, {}, {"q": "-banana"}):
            out += [
                eng.search({**q, "limit": 5}).hits.collect(),
                eng.count(q),
                eng.search({**q, "facet": "lang",
                            "limit": 0}).facets["lang"].collect(),
                eng.msearch({"x": q}, k=3).collect(),
                eng.explain({**q, "limit": 5})["scatter_tasks"]]
        return out + [eng.stats()]
    want = reads(Engine(spark, fixture_index))

    def unbuildable(*args, **kwargs):
        raise AssertionError("a bounded read built Engine.doc_meta")
    monkeypatch.setattr(IndexStorage, "live_doc_meta", unbuildable)
    assert reads(Engine(spark, fixture_index)) == want


def _cache_reads(eng):
    """One of each driver-evaluated read, results collected."""
    w = "banana OR kwazulu OR crime"
    return {
        "search": lambda: eng.search({"q": w, "limit": 5}).hits.collect(),
        "filtered": lambda: eng.search(
            {"q": w, "filter:lang": "txt", "limit": 5}).hits.collect(),
        "phrase": lambda: eng.search(
            {"q": '"banana crime"', "limit": 5}).hits.collect(),
        "facet": lambda: eng.search(
            {"q": w, "facet": "lang", "limit": 0}).facets["lang"].collect(),
        "count": lambda: eng.count({"q": w}),
        "msearch": lambda: eng.msearch(
            {"a": {"q": w}, "b": {"q": "crime wave"}}, k=3).collect(),
    }


def test_warm_read_opens_no_index_file(spark, fixture_index, tmp_path):
    """The driver decodes each part once per Engine: on a tombstoned
    index, the first read of each kind reads files (misses; a phrase
    adds the positions column to parts already held), and running it
    again reads none (only hits), with the same result. A fresh Engine
    starts with an empty cache."""
    import shutil
    from openaleph_search_spark.index.mutate import delete_by_ids
    from openaleph_search_spark.query.engine import Engine
    idx = str(tmp_path / "idx_cache")
    shutil.copytree(fixture_index, idx)
    victim = Engine(spark, idx).search(
        {"q": "banana", "limit": 1}).hits.collect()[0]["doc_id"]
    delete_by_ids(spark, IndexStorage(idx), [victim])
    eng = Engine(spark, idx)
    cache = lambda: eng.explain({"q": "banana"})["part_cache"]  # noqa: E731
    assert cache() == {"parts": 0, "bytes": 0, "hits": 0, "misses": 0}
    for name, fn in _cache_reads(eng).items():
        before = cache()
        cold = fn()
        mid = cache()
        if name in ("search", "phrase"):
            assert mid["misses"] > before["misses"], name
        warm = fn()
        after = cache()
        assert after["misses"] == mid["misses"], name
        assert after["hits"] > mid["hits"] and warm == cold, name
    parts = len(eng.executor._scatter_layout()["parts"])
    assert after["parts"] == parts and after["bytes"] > 0
    assert Engine(spark, idx).explain({"q": "banana"})["part_cache"][
        "misses"] == 0


def test_part_cache_budget(spark, fixture_index, monkeypatch,
                           spark_jobs):
    """An Engine keeps a part cache only when its index's part and
    tombstone files fit the driver-cache budget. One byte below it,
    ``explain()`` reports no part cache and every driver-evaluated read
    reads the query terms' rows from the files: still in the driver
    with no Spark job, with the cached Engine's results. At budget 0
    the term dictionary is not held either (``explain()["term_dict"]``
    is None): planning reads its rows from the files, so every read,
    prefix and wildcard expansion (a gated leading one too),
    ``explain()``, ``stats()`` and more_like_this's term selection
    still run no Spark job and give the cached Engine's results."""
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    from openaleph_search_spark.query.more_like_this import \
        interesting_terms

    def planning(eng):
        lead = Engine(spark, fixture_index, allow_leading_wildcard=True)
        return {
            "prefix": lambda: eng.search(
                {"q": "kwaz* OR cr*", "limit": 5}).hits.collect(),
            "wildcard": lambda: eng.search(
                {"q": "b?n*a", "limit": 5}).hits.collect(),
            "leading": lambda: lead.search(
                {"q": "*rime", "limit": 5}).hits.collect(),
            "gated": lambda: pytest.raises(
                ValueError, eng.search, {"q": "*rime"}).typename,
            "explain": lambda: {k: v for k, v in eng.explain(
                {"q": "ban* crime", "limit": 5}).items()
                if k not in ("part_cache", "term_dict")},
            "stats": eng.stats,
            "mlt": lambda: interesting_terms(eng, doc, min_len=2),
        }
    full = Engine(spark, fixture_index)
    doc = full.search({"q": "banana", "limit": 1}).hits.collect()[0][
        "doc_id"]
    want = {n: fn() for n, fn in _cache_reads(full).items()}
    want_plan = {n: fn() for n, fn in planning(full).items()}
    assert full.explain({"q": "banana"})["term_dict"]["terms"] \
        == want_plan["stats"]["n_terms"]
    size = full.executor._scatter_layout()["files"].file_bytes()
    monkeypatch.setattr(xmod, "_DRIVER_CACHE_BYTES", size)
    assert Engine(spark, fixture_index).explain(
        {"q": "banana"})["part_cache"] is not None
    monkeypatch.setattr(xmod, "_DRIVER_CACHE_BYTES", size - 1)
    eng = Engine(spark, fixture_index)
    for name, fn in _cache_reads(eng).items():
        got, jobs = spark_jobs(fn)
        assert got == want[name] and jobs == [], name
    assert eng.explain({"q": "banana"})["part_cache"] is None
    assert eng.explain({"q": "banana"})["term_dict"] is not None
    monkeypatch.setattr(xmod, "_DRIVER_CACHE_BYTES", 0)
    eng = Engine(spark, fixture_index)
    reads = {**_cache_reads(eng), **planning(eng)}
    for name, fn in reads.items():
        got, jobs = spark_jobs(fn)
        assert got == {**want, **want_plan}[name] and jobs == [], name
    assert eng.explain({"q": "banana"})["term_dict"] is None


def test_term_dict_budget_counts_decoded_bytes(spark, fixture_index,
                                               monkeypatch, spark_jobs):
    """The term dictionary is held only when its decoded size fits the
    driver-cache budget: the term_stats row groups' uncompressed bytes
    plus ~49 bytes per held str, read from the footers. With the budget
    between the files' bytes and that size, ``explain()["term_dict"]``
    is None and reads give the held Engine's rows with no Spark job."""
    import pyarrow.parquet as pq
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    st = IndexStorage(fixture_index)
    paths = st.term_stats_paths()
    file_bytes = sum(os.path.getsize(p) for p in paths)
    mds = [pq.read_metadata(p) for p in paths]
    decoded = sum(md.row_group(i).total_byte_size
                  + 49 * md.row_group(i).num_rows
                  for md in mds for i in range(md.num_row_groups))
    assert file_bytes < decoded
    held = Engine(spark, fixture_index)
    assert held.explain({"q": "banana"})["term_dict"] is not None
    want = {n: fn() for n, fn in _cache_reads(held).items()}
    monkeypatch.setattr(xmod, "_DRIVER_CACHE_BYTES",
                        (file_bytes + decoded) // 2)
    eng = Engine(spark, fixture_index)
    assert eng.explain({"q": "banana"})["term_dict"] is None
    for name, fn in _cache_reads(eng).items():
        got, jobs = spark_jobs(fn)
        assert got == want[name] and jobs == [], name


def test_multi_facet_evaluates_query_once(spark, fixture_engine,
                                          monkeypatch, spark_jobs, oracle):
    """A facet-only search over two facets evaluates the query ONCE:
    each group's kernel runs once in the driver, and with ≥2 groups
    both facets come from ONE job. The counts are the doc_meta values
    of the oracle's matches."""
    from collections import Counter
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.parser import parse_args
    args = {"q": "banana OR kwazulu", "facet": ["lang", "repo"],
            "limit": 0}
    tree = fixture_engine._plan(parse_args(args))
    groups = fixture_engine.executor._scatter_plan([tree], 0,
                                                   "facet")[-1]
    assert len(groups) == 1
    calls = []
    real = xmod._scatter_eval_group

    def counting(parts, *rest):
        calls.append(list(parts))
        return real(parts, *rest)

    monkeypatch.setattr(xmod, "_scatter_eval_group", counting)
    res = fixture_engine.search(args)
    got = {f: d.collect() for f, d in res.facets.items()}
    assert calls == groups
    monkeypatch.setattr(xmod, "_scatter_eval_group", real)

    hit = set(oracle.or_query(["banana", "kwazulu"]))
    dm = fixture_engine.doc_meta.collect()
    want = {f: sorted(Counter(r[f] for r in dm if r["doc_id"] in hit)
                      .items(), key=lambda x: (-x[1], x[0]))
            for f in ("lang", "repo")}
    got = {f: [tuple(r) for r in rows] for f, rows in got.items()}
    assert got == want

    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)
    again, jobs = spark_jobs(lambda: {
        f: [tuple(r) for r in d.collect()]
        for f, d in fixture_engine.search(args).facets.items()})
    assert len(jobs) == 1 and len(jobs[0]) == 1 and jobs[0][0] >= 2
    assert again == want


def test_ivf_centroid_selection_is_bounded_topn(spark):
    """IVF centroid choice must plan as TakeOrderedAndProject (per-
    partition top-n + tiny gather): only n_centroids rows reach the
    driver, never a full-table collect (VERDICT r2 'What's wrong' #2)."""
    import numpy as np
    from openaleph_search_spark.ops.similarity import ivf_centroid_df
    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)])
            for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = ivf_centroid_df(emb, n_centroids=16)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CollectLimit" not in plan


def test_duplicate_spans_plan_shape(spark):
    """Exact-substring dedup must stay equi-join shaped: no cartesian
    or nested-loop join anywhere, and the shuffle count bounded at 4
    (wh count, wh join-back, doc_id island window; the final groupBy
    reuses the island exchange)."""
    from openaleph_search_spark.ops.dedup import duplicate_spans
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}")
         for i in range(20)], "doc_id long, text string")
    plan = _plan(duplicate_spans(docs, window=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange") <= 4


def test_strip_boilerplate_text_never_shuffles(spark):
    """The cut_spans-shaped strip (VERDICT r4 #5): only (doc_id, pos,
    line_hash) int rows and the boilerplate hit arrays shuffle — no
    Exchange in the plan may carry the corpus text column. (Input is
    pre-spread so the small-batch rebalance no-op branch is taken,
    matching the at-scale shape.)"""
    import re
    from openaleph_search_spark.ops.dedup import (boilerplate_lines,
                                                  strip_boilerplate_lines)
    par = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, "common header line for many documents\nbody %d" % i)
         for i in range(40)],
        "doc_id long, text string")
    assert docs.rdd.getNumPartitions() >= par  # rebalance no-op shape
    boiler = boilerplate_lines(docs, min_docs=3)
    # the boilerplate detection itself shuffles hashes, never text
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    btxt = boiler._jdf.queryExecution().explainString(mode)
    bblocks = re.findall(r"\(\d+\) (\w+[\w ]*)\n((?:[A-Z][\w ]*"
                         r" \[\d+\]: \[[^\]]*\]\n?)*)", btxt)
    bex = [body for name, body in bblocks
           if name.startswith("Exchange")]
    assert bex  # the line-hash aggregation shuffle must exist
    for body in bex:
        assert not re.search(r"[\[, ]_?text#", body), body
    # the strip itself: broadcast-set path — scan + mapInPandas with
    # NO exchange anywhere (text never even hits shuffle files)
    out = strip_boilerplate_lines(docs, boiler)
    assert "Exchange" not in _plan(out)
    # fallback join path (forced): text takes exactly one exchange
    fb = strip_boilerplate_lines(docs, boiler, max_broadcast_lines=0)
    ftxt = fb._jdf.queryExecution().explainString(mode)
    fblocks = re.findall(r"\(\d+\) (\w+[\w ]*)\n((?:[A-Z][\w ]*"
                         r" \[\d+\]: \[[^\]]*\]\n?)*)", ftxt)
    n_text_ex = sum(1 for name, body in fblocks
                    if name.startswith("Exchange")
                    and re.search(r"[\[, ]_?text#", body))
    assert n_text_ex <= 1


def test_split_and_mixture_stay_in_scan_stage(spark):
    """with_split / mixture_sample are pure Column exprs — their plans
    must contain no Exchange at all (single projection/filter pass
    over the scan)."""
    from openaleph_search_spark.ops.mixing import (mixture_sample,
                                                   with_split)
    docs = spark.createDataFrame(
        [(i, "x", "t") for i in range(10)],
        "doc_id long, source string, text string")
    p1 = _plan(with_split(docs, {"train": 0.9, "val": 0.1}))
    p2 = _plan(mixture_sample(docs, {"x": 0.5}))
    assert "Exchange" not in p1
    assert "Exchange" not in p2


def test_gathered_hits_keep_types(spark, fixture_docs_df, tmp_path,
                                  monkeypatch):
    """Gathered hits and msearch rows keep doc_meta's column order and
    dtypes, timestamp/date and null meta values and empty results
    included, whether the scatter evaluates in the driver or in a
    job: each row is the oracle's hit carrying its doc_meta row."""
    from pyspark.sql import functions as F
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    from pyspark.sql import Window
    # null out one meta value per source part (of the parts holding ≥2
    # docs)
    part = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4))
    w = Window.partitionBy(part)
    kept = ~((F.row_number().over(w.orderBy("path")) == 1)
             & (F.count("*").over(w) > 1))
    docs = (fixture_docs_df
            .withColumn("created", F.when(kept, F.expr(
                "timestamp'2021-03-04 05:06:07' + make_interval(0, 0, 0, "
                "cast(crc32(path) % 400 as int), 0, 0, 0)")))
            .withColumn("day", F.when(kept, F.to_date(F.lit("2020-02-29"))))
            .withColumn("stars", F.when(kept, F.length("path")))
            .withColumn("owner", F.when(kept, F.col("repo"))))
    out = str(tmp_path / "idx_typed")
    build_index(spark, docs, out, num_partitions=4, num_shards=2,
                meta_cols=["created", "day", "stars", "owner"])
    eng = Engine(spark, out)
    o = _oracle(eng)
    dm = eng.doc_meta
    meta = {r[0]: tuple(r[1:]) for r in dm.collect()}
    hit_types = [("doc_id", "bigint"), ("score", "double"), *dm.dtypes[1:]]
    lang = {d: m[dm.columns.index("lang") - 1] for d, m in meta.items()}
    wide = o.or_query(["banana", "kwazulu", "crime"])
    searches = [({"q": "banana OR kwazulu OR crime", "limit": 10}, wide),
                ({"q": "banana OR kwazulu", "filter:lang": "txt",
                  "limit": 10}, {d: v for d, v in o.or_query(
                      ["banana", "kwazulu"]).items() if lang[d] == "txt"}),
                ({"q": "kwazulu", "filter:lang": "go", "limit": 10}, {})]
    batch = {"a": {"q": "banana OR kwazulu"}, "b": {"q": "crime OR nana"}}

    def results():
        out = [[tuple(r) for r in eng.search(a).hits.collect()]
               for a, _ in searches]
        assert all(eng.search(a).hits.dtypes == hit_types
                   for a, _ in searches)
        ms = eng.msearch(batch, k=3)
        assert ms.dtypes == [*hit_types[:2], ("query_id", "string"),
                             *hit_types[2:]]
        return out + [sorted(map(tuple, ms.collect()))]

    got = results()
    for rows, (_, want) in zip(got, searches):
        _assert_hits(rows, o.topk(want, 10), meta)
    for qid, want in {"a": o.or_query(["banana", "kwazulu"]),
                      "b": o.or_query(["crime", "nana"])}.items():
        rows = sorted(((r[0], r[1], *r[3:]) for r in got[3]
                       if r[2] == qid), key=lambda r: (-r[1], r[0]))
        _assert_hits(rows, o.topk(want, 3), meta)
    assert any(None in r for r in got[0])  # null meta values
    assert got[2] == []  # and an empty result are covered
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)
    assert eng.explain(searches[0][0])["scatter_tasks"] >= 2
    assert results() == got


# ---------------------------------------------------------- percolation --
def _single_file_docs(spark, tmp_path, rows):
    """``rows`` (conftest row shape) written as ONE parquet file and
    read back: a scan of one partition."""
    out = str(tmp_path / "perc_docs")
    (spark.createDataFrame(rows, "repo string, path string, "
                                 "commit string, lang string, "
                                 "content string")
     .coalesce(1).write.parquet(out))
    df = spark.read.parquet(out)
    assert df.rdd.getNumPartitions() == 1
    return df


def _perc_key(r):
    return (r["path"], r["entity_id"], round(r["score"], 9),
            tuple(r["matched_names"]))


def _perc_want(rows, stored):
    from openaleph_search_spark.query.percolate import percolate_text
    return sorted((r[1], h["entity_id"], round(h["score"], 9),
                   tuple(h["matched_names"]))
                  for r in rows for h in percolate_text(r[4], stored))


_WATCH = [{"entity_id": "e1", "names": ["Paul Manafort"]},
          {"entity_id": "e2", "names": ["banana crime"],
           "other_names": ["KwaZulu Natal"]}]


def test_percolate_small_batch_takes_no_exchange(spark, tmp_path,
                                                 spark_jobs):
    """A single-file batch of ≤ CHUNK_DOCS rows percolates on its scan's
    one split: no Exchange in the plan, one job of one task. Input
    files whose row count can't be read (not parquet) spread to every
    core."""
    from openaleph_search_spark.query.percolate import (
        load_watchlist, percolate_index, register_watchlist)
    st = IndexStorage(str(tmp_path / "idx_perc"))
    register_watchlist(st, _WATCH)
    docs = _single_file_docs(spark, tmp_path, FIXTURE_DOCS)
    df = percolate_index(st, docs)
    assert "Exchange" not in _plan(df)
    rows, jobs = spark_jobs(df.collect)
    assert jobs == [[1]]
    assert sorted(map(_perc_key, rows)) == _perc_want(
        FIXTURE_DOCS, load_watchlist(st))
    js = str(tmp_path / "perc_json")
    docs.coalesce(1).write.json(js)
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par})" in _plan(percolate_index(
        st, spark.read.schema(docs.schema).json(js)))


def test_percolate_large_file_fans_out_by_rows(spark, tmp_path,
                                               spark_jobs):
    """A single-file input of more than CHUNK_DOCS rows still spreads
    over min(cores, ceil(rows / CHUNK_DOCS)) tasks, with the same rows
    as the per-doc reference."""
    from openaleph_search_spark.query.percolate import (
        CHUNK_DOCS, compile_watchlist, percolate_docs)
    rows = [(d[0], f"{i}/{d[1]}", d[2], d[3], d[4])
            for i in range(260) for d in FIXTURE_DOCS]
    stored = compile_watchlist(_WATCH)
    n = min(spark.sparkContext.defaultParallelism,
            -(-len(rows) // CHUNK_DOCS))
    assert n >= 2
    df = percolate_docs(_single_file_docs(spark, tmp_path, rows), stored)
    assert f"RoundRobinPartitioning({n})" in _plan(df)
    got, jobs = spark_jobs(df.collect)
    assert max(t for job in jobs for t in job) == n
    assert sorted(map(_perc_key, got)) == _perc_want(rows, stored)


def test_ops_inputs_spread_by_work(spark, tmp_path):
    """The ops kernels size a batch input by its work like percolation
    does (ops.util.spread). simhash (one row per task) spreads a
    one-file input of more rows than cores over min(cores, rows) tasks
    and keeps a one-row file on its scan's split. cosine_topk sizes its
    tasks by input bytes (64 MiB each), so a small parquet or JSON file
    takes no Exchange; an input with no files can't be sized and
    spreads to every core. A streaming input is returned as it is."""
    from openaleph_search_spark.ops.dedup import simhash
    from openaleph_search_spark.ops.similarity import cosine_topk
    from openaleph_search_spark.ops.util import spread
    par = spark.sparkContext.defaultParallelism
    assert par >= 2

    def one_file(rows, schema, name, fmt="parquet"):
        d = str(tmp_path / name)
        getattr(spark.createDataFrame(rows, schema).coalesce(1).write,
                fmt)(d)
        df = spark.read.schema(schema).format(fmt).load(d)
        assert df.rdd.getNumPartitions() == 1
        return df, d

    rows = [(i, f"doc {i} banana crime") for i in range(par + 3)]
    docs, docs_dir = one_file(rows, "doc_id long, text string", "docs")
    sims = simhash(docs)
    assert f"RoundRobinPartitioning({par})" in _plan(sims)
    assert sims.count() == len(rows)
    one = simhash(one_file(rows[:1], "doc_id long, text string",
                           "one_doc")[0])
    assert "Exchange" not in _plan(one)
    assert one.count() == 1

    vecs = [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(50)]
    vec_schema = "vec_id long, embedding array<float>"
    for src in (one_file(vecs, vec_schema, "vecs")[0],
                one_file(vecs, vec_schema, "vecs_json", "json")[0]):
        top = cosine_topk(src, [1.0, 1.0, 0.0], k=3)
        assert "Exchange" not in _plan(top)
        assert len(top.collect()) == 3
    top = cosine_topk(spark.createDataFrame(vecs, vec_schema).coalesce(1),
                      [1.0, 1.0, 0.0], k=3)
    assert f"RoundRobinPartitioning({par})" in _plan(top)
    assert len(top.collect()) == 3

    stream = spark.readStream.schema(docs.schema).parquet(docs_dir)
    assert spread(stream, 1) is stream
