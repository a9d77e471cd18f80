"""Index mutation tests: tombstone deletes (S4/S5), compaction,
streaming append (incremental maintenance), spark-submit packaging."""
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from openaleph_search_spark.index.build import build_index
from openaleph_search_spark.index.mutate import (
    compact, delete_by_ids, delete_docs, read_tombstones, upsert_docs)
from openaleph_search_spark.index.storage import IndexStorage
from openaleph_search_spark.query.engine import Engine


@pytest.fixture()
def mutable_index(spark, fixture_docs_df, tmp_path):
    out = str(tmp_path / "idx_mut")
    build_index(spark, fixture_docs_df, out, num_partitions=4, num_shards=2)
    return out


def test_delete_by_query_tombstones(spark, mutable_index):
    eng = Engine(spark, mutable_index)
    assert eng.count({"q": "banana"}) == 2
    st = IndexStorage(mutable_index)
    n = delete_docs(spark, st, F.col("lang") == "go")
    assert n == 1  # crime.go is the only go doc
    eng2 = Engine(spark, mutable_index)  # fresh engine sees tombstones
    assert eng2.count({"q": "banana"}) == 1
    res = eng2.search({"q": "banana", "limit": 10})
    assert all(r["lang"] != "go" for r in res.hit_rows(0, 10))
    # match_all excludes them too
    assert eng2.search({"limit": 100}, with_total=True).total == 9


def test_delete_idempotent(spark, mutable_index):
    st = IndexStorage(mutable_index)
    n1 = delete_by_ids(spark, st, [0])
    n2 = delete_by_ids(spark, st, [0])
    assert n1 == 1 and n2 == 0


def test_compact_folds_tombstones(spark, mutable_index, fixture_docs_df):
    st = IndexStorage(mutable_index)
    delete_docs(spark, st, F.col("lang") == "txt")
    compact(spark, st)
    assert read_tombstones(spark, st) is None
    eng = Engine(spark, mutable_index)
    assert eng.search({"limit": 100}, with_total=True).total == \
        fixture_docs_df.filter("lang != 'txt'").count()
    # postings physically gone + stats refreshed
    meta = st.read_meta()
    assert meta["n_docs"] == 5
    # scores against a fresh oracle over the surviving docs
    assert eng.count({"q": "banana"}) == 1  # only crime.go survives


def test_streaming_append(spark, fixture_docs_df, tmp_path):
    from openaleph_search_spark.streaming.incremental import append_batch
    out = str(tmp_path / "idx_stream")
    first = fixture_docs_df.filter(F.col("repo") != "r3")
    build_index(spark, first, out, num_partitions=4, num_shards=2)
    eng = Engine(spark, out)
    n0 = eng.search({"limit": 100}, with_total=True).total
    # append the remaining docs as a micro-batch
    batch = fixture_docs_df.filter(F.col("repo") == "r3")
    append_batch(spark, batch, out, epoch_id=0)
    eng2 = Engine(spark, out)
    assert eng2.search({"limit": 100}, with_total=True).total == \
        n0 + batch.count()
    # newly appended content is searchable with correct global stats
    res = eng2.search({"q": "kwazulu", "limit": 10})
    paths = {r["path"] for r in res.hit_rows(0, 10)}
    assert "c/long.rs" in paths and "a/kwazulu.txt" in paths
    meta = IndexStorage(out).read_meta()
    assert meta["n_docs"] == n0 + batch.count()


def test_streaming_query_e2e(spark, fixture_docs_df, tmp_path):
    """readStream → foreachBatch append sink → searchable index."""
    from openaleph_search_spark.streaming.incremental import stream_index
    src_dir = str(tmp_path / "stream_src")
    out = str(tmp_path / "idx_stream2")
    build_index(spark, fixture_docs_df.limit(2), out,
                num_partitions=2, num_shards=2)
    batch = fixture_docs_df.filter(F.col("path") == "b/manafort.js")
    batch.write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream.schema(batch.schema).parquet(src_dir))
    q = stream_index(spark, stream, out,
                     checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    eng = Engine(spark, out)
    res = eng.search({"q": "manafort", "limit": 10})
    assert [r["path"] for r in res.hit_rows(0, 10)] == ["b/manafort.js"]


def test_streaming_percolation_e2e(spark, fixture_docs_df, tmp_path):
    """readStream → registered-watchlist percolation → parquet alert
    sink; alert rows equal the batch operator's on the same docs."""
    from openaleph_search_spark.query.percolate import (
        percolate_docs, load_watchlist, register_watchlist)
    from openaleph_search_spark.streaming.percolate import alert_stream
    out = str(tmp_path / "idx_perc")
    build_index(spark, fixture_docs_df.limit(2), out,
                num_partitions=2, num_shards=2)
    storage = IndexStorage(out)
    register_watchlist(storage, [
        {"entity_id": "e-banana", "names": ["banana crime"],
         "other_names": ["banana"]},
        {"entity_id": "e-kwazulu", "names": ["KwaZulu Natal"]},
    ])
    src_dir = str(tmp_path / "perc_src")
    fixture_docs_df.write.mode("overwrite").parquet(src_dir)
    stream = (spark.readStream
              .schema(fixture_docs_df.schema).parquet(src_dir))
    q = alert_stream(spark, stream, out,
                     checkpoint_dir=str(tmp_path / "perc_ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    alerts = spark.read.parquet(os.path.join(out, "alerts"))
    want = percolate_docs(fixture_docs_df, load_watchlist(storage))
    key = ["repo", "path", "commit", "entity_id"]
    got_rows = {tuple(r[k] for k in key): round(r["score"], 9)
                for r in alerts.collect()}
    want_rows = {tuple(r[k] for k in key): round(r["score"], 9)
                 for r in want.collect()}
    assert got_rows == want_rows
    assert any(e == "e-banana" for *_, e in got_rows)
    assert any(e == "e-kwazulu" for *_, e in got_rows)


def test_spark_submit_packaging(tmp_path):
    """north_rule: runs via spark-submit --py-files <zip>."""
    sys.path.insert(0, "/root/repo/scripts")
    from package import build_zip
    z = build_zip(str(tmp_path / "pkg.zip"))
    assert os.path.exists(z)
    env = {**os.environ, "PYTHONPATH": z}
    out = subprocess.run(
        [sys.executable, "/root/repo/openaleph_search_spark/cli.py",
         "analyze", "Félix café"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path))
    assert out.returncode == 0, out.stderr
    assert '["felix", 0]' in out.stdout


def _hits(eng, args, n=20):
    res = eng.search({**args, "limit": n})
    return [(r["path"], round(r["score"], 9)) for r in res.hit_rows(0, n)]


def test_append_preserves_field_config(spark, fixture_docs_df, tmp_path):
    """Regression (ADVICE r1): append_batch must reuse the base build's
    fields/bigrams config — appended docs get path/repo/lang postings
    and bigram shingles, and results equal a from-scratch build."""
    from openaleph_search_spark.streaming.incremental import append_batch
    inc = str(tmp_path / "idx_inc")
    full = str(tmp_path / "idx_full")
    first = fixture_docs_df.filter(F.col("repo") != "r3")
    batch = fixture_docs_df.filter(F.col("repo") == "r3")
    build_index(spark, first, inc, num_partitions=4, num_shards=2,
                bigrams=True)
    append_batch(spark, batch, inc, epoch_id=0)
    build_index(spark, fixture_docs_df, full, num_partitions=4,
                num_shards=2, bigrams=True)
    e_inc, e_full = Engine(spark, inc), Engine(spark, full)
    # fielded query hits the APPENDED doc (c/long.rs has path tokens)
    assert ("c/long.rs", ) [0] in [p for p, _ in
                                   _hits(e_inc, {"q": "path:long"})]
    # per-field scores identical to the from-scratch build; tied hits
    # are compared by path, since the appended part numbers its docs
    # apart from the full build's parts
    def ranked(eng, q):
        return sorted(_hits(eng, {"q": q}), key=lambda h: (-h[1], h[0]))
    for q in ("path:long", "repo:r3", "lang:rs",
              '"kwazulu natal"', "banana OR kwazulu"):
        assert ranked(e_inc, q) == ranked(e_full, q), q
    meta = IndexStorage(inc).read_meta()
    assert meta["avgdl_by_field"].keys() == \
        IndexStorage(full).read_meta()["avgdl_by_field"].keys()


def _facet(eng, args, field="lang"):
    res = eng.search({**args, "facet": field, "limit": 0})
    return sorted((r["value"], r["count"])
                  for r in res.facets[field].collect())


# the compaction tests delete repo r3 plus a/banana.txt: two source
# parts at num_partitions=4, and blocks of the "banana" terms
_DEAD = "repo = 'r3' OR path = 'a/banana.txt'"
_QUERIES = ("banana", "path:banana", '"banana crime"',
            '"banana crime syndicate"', "banana OR manafort", "lang:txt")


def _assert_same_results(e_c, e_f):
    for q in _QUERIES:
        assert _hits(e_c, {"q": q}) == _hits(e_f, {"q": q}), q
        assert e_c.count({"q": q}) == e_f.count({"q": q}), q
    for q in ("banana", "banana OR kwazulu OR fruit"):
        assert _facet(e_c, {"q": q}) == _facet(e_f, {"q": q}), q


def _dead_parts(spark, path, pred):
    from openaleph_search_spark.index.build import DOC_ID_PART_SHIFT
    return sorted({r["doc_id"] >> DOC_ID_PART_SHIFT for r in
                   IndexStorage(path).doc_meta(spark).filter(pred)
                   .select("doc_id").collect()})


def test_compact_refreshes_per_field_stats(spark, fixture_docs_df,
                                           tmp_path):
    """Regression (ADVICE r1): compact must recompute avgdl_by_field,
    so post-compact results (3-term phrase, count, lang facet) equal a
    fresh build over the surviving docs; the rewritten parts keep the
    per-part layout, so reads stay on the scatter path."""
    comp = str(tmp_path / "idx_comp")
    fresh = str(tmp_path / "idx_fresh")
    build_index(spark, fixture_docs_df, comp, num_partitions=4,
                num_shards=2, bigrams=True)
    st = IndexStorage(comp)
    parts = st.completed_partitions()
    dead_parts = _dead_parts(spark, comp, _DEAD)
    assert len(dead_parts) >= 2
    n_dead = delete_docs(spark, st, _DEAD)
    stats = compact(spark, st)
    assert stats["parts_rewritten"] == len(dead_parts)
    assert stats["parts_skipped"] == len(parts) - len(dead_parts)
    assert stats["docs_dropped"] == n_dead == 3
    assert stats["blocks_dropped"] > 0  # e.g. terms only r3 docs had
    assert stats["tasks"] == 0  # a few docs: rewritten in the driver
    survivors = fixture_docs_df.filter(f"NOT ({_DEAD})")
    build_index(spark, survivors, fresh, num_partitions=4, num_shards=2,
                bigrams=True)
    e_c, e_f = Engine(spark, comp), Engine(spark, fresh)
    assert e_c.executor.scatter_ok()
    assert e_c.explain({"q": "banana crime"})["scatter_tasks"] is not None
    _assert_same_results(e_c, e_f)
    m_c = st.read_meta()
    m_f = IndexStorage(fresh).read_meta()
    assert m_c["n_docs"] == m_f["n_docs"] == 7
    assert m_c["avgdl_by_field"].keys() == m_f["avgdl_by_field"].keys()
    for f, a in m_f["avgdl_by_field"].items():
        assert abs(m_c["avgdl_by_field"][f] - a) < 1e-9, f
    # impact bounds are live-derived from (max_tf, min_dl): the
    # compacted postings carry refreshed min_dl per modified block
    import pyspark.sql.functions as _F
    assert IndexStorage(comp).postings(spark).filter(
        _F.col("min_dl") <= 0).count() == 0
    # the global term stats equal the fresh build's
    ts = {r["term"]: (r["df"], r["cf"])
          for r in st.term_stats(spark).collect()}
    assert ts == {r["term"]: (r["df"], r["cf"]) for r in
                  IndexStorage(fresh).term_stats(spark).collect()}


def _part_files(st, part):
    """Every file of one source part → bytes."""
    name = f"part={part}.parquet"
    paths = [os.path.join(st.doc_meta_dir, name),
             os.path.join(st.field_lens_dir, name),
             st.manifest_path(part),
             os.path.join(st.manifest_dir, f"fields_part={part}.json")]
    for shard in os.listdir(st.postings_dir):
        p = os.path.join(st.postings_dir, shard, name)
        if os.path.exists(p):
            paths.append(p)
    return {p: st.io.read_bytes(p) for p in paths}


def test_compact_leaves_untouched_parts_alone(spark, mutable_index):
    """Tombstones in one part: only that part is rewritten, and every
    other part's files stay byte-identical."""
    from openaleph_search_spark.index.build import DOC_ID_PART_SHIFT
    st = IndexStorage(mutable_index)
    parts = sorted(st.completed_partitions())
    victim = st.doc_meta(spark).filter(
        F.col("path") == "b/crime.go").collect()[0]["doc_id"]
    hit = victim >> DOC_ID_PART_SHIFT
    before = {p: _part_files(st, p) for p in parts if p != hit}
    hit_before = _part_files(st, hit)
    delete_by_ids(spark, st, [victim])
    stats = compact(spark, st)
    assert stats.pop("blocks_dropped") >= 0
    assert stats == {"parts_rewritten": 1,
                     "parts_skipped": len(parts) - 1,
                     "docs_dropped": 1, "tasks": 0}
    assert {p: _part_files(st, p) for p in before} == before
    assert _part_files(st, hit) != hit_before
    assert Engine(spark, mutable_index).count({"q": "banana"}) == 1


def _tree_files(root):
    """Every file under an index root except the tombstones → bytes,
    keyed by path relative to the root."""
    out = {}
    for d, _, names in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel.split(os.sep)[0] == "tombstones":
            continue
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.join(rel, n)] = f.read()
    return out


def test_compact_small_runs_in_driver(spark, mutable_index, spark_jobs):
    """A compaction whose target parts fit one group rewrites them in
    the driver: no Spark job, ``tasks == 0``."""
    st = IndexStorage(mutable_index)
    delete_docs(spark, st, _DEAD)
    stats, jobs = spark_jobs(lambda: compact(spark, st))
    assert jobs == []
    assert stats["tasks"] == 0 and stats["parts_rewritten"] >= 2
    assert read_tombstones(spark, st) is None
    assert Engine(spark, mutable_index).count({"q": "banana"}) == 1


def test_compact_job_path_matches_driver_path(spark, mutable_index,
                                              tmp_path, monkeypatch,
                                              spark_jobs):
    """Forced onto the job path (one task per target part), compact()
    runs one single-stage job and leaves every part file byte-identical
    to the driver path's on a copy of the same index (the term
    dictionary's row order follows pyarrow's group_by, so its rows are
    compared)."""
    import shutil
    from openaleph_search_spark.index import mutate
    st = IndexStorage(mutable_index)
    delete_docs(spark, st, _DEAD)
    copy = str(tmp_path / "idx_job_path")
    shutil.copytree(mutable_index, copy)
    by_driver = compact(spark, st)
    monkeypatch.setattr(mutate, "DOCS_PER_COMPACT_TASK", 1)
    by_job, jobs = spark_jobs(lambda: compact(spark, IndexStorage(copy)))
    n = by_driver["parts_rewritten"]
    assert n >= 2 and by_driver["tasks"] == 0
    assert jobs == [[n]] and by_job.pop("tasks") == n
    by_driver.pop("tasks")
    assert by_job == by_driver
    driver_files, job_files = _tree_files(mutable_index), _tree_files(copy)
    assert driver_files.keys() == job_files.keys()
    terms = os.path.join("term_stats", "part=all.parquet")
    assert {k for k in driver_files
            if driver_files[k] != job_files[k]} <= {terms}
    key = lambda st: sorted(tuple(r) for r in st.term_stats(spark).collect())
    assert key(st) == key(IndexStorage(copy))


def test_mentions_skip_tombstoned_docs(spark, mutable_index):
    """mentions_query and multi_mentions return live docs only: a
    deleted doc's id never comes back."""
    from openaleph_search_spark.query.percolate import (mentions_query,
                                                        multi_mentions)
    st = IndexStorage(mutable_index)
    victim = st.doc_meta(spark).filter(
        F.col("path") == "b/manafort.js").collect()[0]["doc_id"]
    names = ["Paul Manafort", "KwaZulu"]
    before = {r["doc_id"] for r in mentions_query(
        Engine(spark, mutable_index), names).collect()}
    assert victim in before
    delete_by_ids(spark, st, [victim])
    eng = Engine(spark, mutable_index)
    got = {r["doc_id"] for r in mentions_query(eng, names).collect()}
    assert got == before - {victim}
    multi = multi_mentions(eng, {"e1": ["Paul Manafort"],
                                 "e2": ["KwaZulu"]}).collect()
    assert {r["entity_id"] for r in multi} == {"e2"}
    assert victim not in {r["doc_id"] for r in multi}


def test_compact_crash_then_rerun(spark, fixture_docs_df, tmp_path,
                                  monkeypatch):
    """A compaction that dies after rewriting its first part leaves a
    readable index: the tombstones and meta.json stay until the final
    commit, so reads are unchanged. Re-running compact() then equals a
    fresh build over the survivors."""
    from openaleph_search_spark.index import mutate
    comp = str(tmp_path / "idx_crash")
    fresh = str(tmp_path / "idx_crash_fresh")
    build_index(spark, fixture_docs_df, comp, num_partitions=4,
                num_shards=2, bigrams=True)
    st = IndexStorage(comp)
    dead_parts = _dead_parts(spark, comp, _DEAD)
    delete_docs(spark, st, _DEAD)
    e_before = Engine(spark, comp)
    want = {q: _hits(e_before, {"q": q}) for q in _QUERIES}
    meta_before = st.io.read_bytes(st.meta_path)
    manifests_before = st.completed_partitions()

    real, done = mutate._rewrite_part, []

    def crash_after_first(storage, part, *args):
        if done:
            raise RuntimeError("simulated crash")
        done.append(part)
        return real(storage, part, *args)
    monkeypatch.setattr(mutate, "_rewrite_part", crash_after_first)
    with pytest.raises(RuntimeError, match="simulated crash"):
        # one compaction task's body, run in-process
        mutate._compact_parts(st, dead_parts, mutate._tombstone_paths(st),
                              2, True)
    monkeypatch.undo()
    assert done == dead_parts[:1]
    first = st.completed_partitions()[done[0]]
    assert first["docs"] < manifests_before[done[0]]["docs"]
    assert read_tombstones(spark, st) is not None
    assert st.io.read_bytes(st.meta_path) == meta_before
    e_mid = Engine(spark, comp)
    assert e_mid.executor.scatter_ok()
    assert {q: _hits(e_mid, {"q": q}) for q in _QUERIES} == want

    stats = compact(spark, st)
    assert stats["parts_rewritten"] == len(dead_parts)
    assert read_tombstones(spark, st) is None
    build_index(spark, fixture_docs_df.filter(f"NOT ({_DEAD})"), fresh,
                num_partitions=4, num_shards=2, bigrams=True)
    _assert_same_results(Engine(spark, comp), Engine(spark, fresh))
    assert st.read_meta()["n_docs"] == 7


def test_compact_rejects_layout6_compaction(spark, mutable_index):
    """A layout-6 compaction left Spark-named data files; compact()
    refuses such an index by name and keeps its tombstones, and a query
    raises instead of falling back to another plan."""
    st = IndexStorage(mutable_index)
    delete_by_ids(spark, st, [0])
    k = sorted(st.completed_partitions())[0]
    st.io.move(os.path.join(st.doc_meta_dir, f"part={k}.parquet"),
               os.path.join(st.doc_meta_dir,
                            "part-00000-0000.c000.snappy.parquet"))
    with pytest.raises(ValueError, match="layout"):
        compact(spark, st)
    assert read_tombstones(spark, st) is not None
    with pytest.raises(ValueError, match="part=<int>.parquet"):
        Engine(spark, mutable_index).search({"q": "banana", "limit": 5})


def test_append_grown_avgdl_disables_pruning_soundly(
        spark, fixture_docs_df, tmp_path):
    """Appending long docs grows avgdl; results must STILL be exact —
    impact bounds recompute live from (max_tf, min_dl) against the new
    stats, so pruning stays on AND sound."""
    from openaleph_search_spark.streaming.incremental import append_batch
    inc = str(tmp_path / "idx_grow")
    full = str(tmp_path / "idx_grow_full")
    short = fixture_docs_df.filter(F.col("path") != "c/long.rs")
    long_doc = fixture_docs_df.filter(F.col("path") == "c/long.rs")
    build_index(spark, short, inc, num_partitions=4, num_shards=2)
    append_batch(spark, long_doc, inc, epoch_id=0)
    build_index(spark, fixture_docs_df, full, num_partitions=4,
                num_shards=2)
    e_inc, e_full = Engine(spark, inc), Engine(spark, full)
    for q in ("kwazulu", "banana OR kwazulu", "path:long"):
        assert _hits(e_inc, {"q": q}) == _hits(e_full, {"q": q}), q


def test_streaming_windowed_counts(spark, tmp_path):
    """Watermarked windowed aggregation over a streaming source equals
    the batch computation of the same frame."""
    from openaleph_search_spark.streaming.windows import (
        windowed_event_counts)
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("ts", "event_type").limit(500))
    src = str(tmp_path / "ev_src")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_event_counts(stream, window="1 hour",
                                watermark="2 hours")
    q = (out.writeStream.format("memory").queryName("winagg")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["window_start"], r["event_type"]): r["count"]
           for r in spark.sql("select * from winagg").collect()}
    want = {(r["window_start"], r["event_type"]): r["count"]
            for r in windowed_event_counts(
                spark.read.parquet(src), window="1 hour").collect()}
    assert got == want and got


def test_streaming_sessionize_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): gap-based
    sessions — events ≤ gap apart share a session, larger gaps split."""
    import datetime as dt
    from openaleph_search_spark.streaming.windows import sessionize
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [("u1", t0), ("u1", t0 + dt.timedelta(minutes=5)),
            ("u1", t0 + dt.timedelta(minutes=90)),   # new session
            ("u2", t0 + dt.timedelta(minutes=1))]
    src_df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    src = str(tmp_path / "sess_src")
    src_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(src_df.schema).parquet(src)
    out = sessionize(stream, gap="30 minutes", idle_timeout="1 hour")
    q = (out.writeStream.format("memory").queryName("sess")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from sess").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(
            (r["session_start"], r["session_end"], r["n_events"],
             r["closed"]))
    # u1: first session (2 events) closed by the 90-min gap; second
    # session (1 event) still open; u2: one open session
    u1 = sorted(by_key["u1"])
    assert any(n == 2 and closed for _, _, n, closed in u1)
    assert any(n == 1 and not closed for _, _, n, closed in u1)
    assert len(by_key["u2"]) == 1 and by_key["u2"][0][2] == 1


def test_engine_export_filtered_projected(spark, fixture_docs_df,
                                          tmp_path):
    """S6 enrichment (reference test_export.py shapes): query-filtered
    export, excluded fields, auth, tombstone subtraction."""
    from pyspark.sql import functions as F
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.auth import SearchAuth
    from openaleph_search_spark.query.engine import Engine
    out = str(tmp_path / "idx_exp")
    build_index(spark, fixture_docs_df, out, num_partitions=4,
                num_shards=2)
    eng = Engine(spark, out)
    # full export = all docs
    assert eng.export().count() == fixture_docs_df.count()
    # query-filtered export
    got = {r["path"] for r in eng.export({"q": "banana"}).collect()}
    assert got == {"a/banana.txt", "b/crime.go"}
    # filters + excluded fields
    sub = eng.export({"filter:lang": "txt"},
                     exclude_fields=["content_sha256", "src_part"])
    assert "content_sha256" not in sub.columns
    assert sub.count() == fixture_docs_df.filter("lang = 'txt'").count()
    # include_fields keeps doc_id implicitly
    inc = eng.export(include_fields=["path"])
    assert set(inc.columns) == {"doc_id", "path"}
    # auth restricts the export
    assert eng.export(auth=SearchAuth(datasets={"r1"}, logged_in=True)
                      ).count() == \
        fixture_docs_df.filter("repo = 'r1'").count()
    # tombstoned docs never export
    st = IndexStorage(out)
    delete_docs(spark, st, F.col("lang") == "go")
    assert Engine(spark, out).export({"q": "banana"}).count() == 1


def test_cli_export_compact_roundtrip(spark, fixture_docs_df, tmp_path):
    """CLI surface: build → export → delete → compact → export, all
    through the argparse entry (in-process; spark-submit packaging is
    covered separately)."""
    import json as _json
    from openaleph_search_spark import cli
    docs_dir = str(tmp_path / "cli_docs")
    idx = str(tmp_path / "cli_idx")
    exp = str(tmp_path / "cli_exp")
    fixture_docs_df.write.mode("overwrite").parquet(docs_dir)

    import io
    from contextlib import redirect_stdout

    def run(*argv):
        buf = io.StringIO()
        with redirect_stdout(buf):
            rc = cli.main(list(argv))
        assert rc == 0
        return buf.getvalue().strip().splitlines()

    run("build", "--input", docs_dir, "--output", idx,
        "--partitions", "4", "--shards", "2")
    out = run("export", "--index", idx, "--q", "banana",
              "--output", exp, "--exclude-fields", "content_sha256")
    assert _json.loads(out[-1])["exported"] == 2
    exported = spark.read.parquet(exp)
    assert "content_sha256" not in exported.columns
    run("delete", "--index", idx, "--filter", "lang=go")
    out_c = _json.loads(run("compact", "--index", idx)[-1])
    assert out_c["n_docs"] == 9
    assert out_c["compact"]["parts_rewritten"] == 1
    assert out_c["compact"]["docs_dropped"] == 1
    out2 = run("export", "--index", idx, "--q", "banana",
               "--output", exp + "2")
    assert _json.loads(out2[-1])["exported"] == 1

    out_s = run("stats", "--index", idx)
    st = _json.loads(out_s[-1])
    assert st["n_docs"] == 10 - 1 and st["n_terms"] > 50  # post-compact
    out_e = run("explain", "--index", idx, "--q", "banana AND crime")
    assert _json.loads(out_e[-1])["strategy"] == "topk_scatter_gather"

    # register-once / percolate-many through the CLI
    wl = str(tmp_path / "wl.jsonl")
    with open(wl, "w") as f:
        f.write(_json.dumps({"entity_id": "w1",
                             "names": ["Banana Crime"]}) + "\n")
    out3 = run("register-watchlist", "--index", idx,
               "--watchlist", wl)
    assert _json.loads(out3[-1])["registered"] == 1
    alerts_dir = str(tmp_path / "cli_alerts")
    out4 = run("percolate", "--index", idx, "--input", docs_dir,
               "--output", alerts_dir)
    assert _json.loads(out4[-1])["alerts"] >= 1
    alerts = spark.read.parquet(alerts_dir)
    assert ("w1", "b/crime.go") in {
        (r["entity_id"], r["path"]) for r in alerts.collect()}


def test_streaming_dedup_stateful(spark, tmp_path):
    """Streaming exact dedup: one copy per distinct hash ever emitted
    non-duplicate, across micro-batches (maxFilesPerTrigger=1 forces
    the state to carry between batches)."""
    from openaleph_search_spark.streaming.windows import dedup_stream
    a = spark.createDataFrame(
        [(1, "same text"), (2, "other text"), (3, "same text")],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(4, "same text"), (5, "third text"), (6, "other text")],
        "doc_id long, text string")
    src = str(tmp_path / "dd_src")
    a.repartition(1).write.mode("overwrite").parquet(src)
    # second file lands before the stream starts; one file per trigger
    b.repartition(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(a.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (dedup_stream(stream).writeStream.format("memory")
         .queryName("ddstream").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select * from ddstream").collect()
    assert len(rows) == 6
    by_hash = {}
    for r in rows:
        by_hash.setdefault(r["content_hash"], []).append(
            r["is_duplicate"])
    # 3 distinct texts; per hash exactly one False, rest True
    assert len(by_hash) == 3
    for flags in by_hash.values():
        assert flags.count(False) == 1
    # 'same text' appears 3x -> 2 dups; total dups = 3
    assert sum(r["is_duplicate"] for r in rows) == 3


# -- writes sized by their work ------------------------------------------------
def _batch_file(spark, docs, path, commit):
    """``docs`` re-versioned as ``commit``, read back from ONE parquet
    file: a one-partition micro-batch source."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pandas(
        docs.withColumn("commit", F.lit(commit)).toPandas(),
        preserve_index=False), path)
    return spark.read.parquet(path)


def _ranked(eng, q, n=50):
    """Hits as (path, score), tied scores ordered by path."""
    return sorted(_hits(eng, {"q": q}, n), key=lambda h: (-h[1], h[0]))


def test_writes_run_at_most_one_job(spark, spark_jobs, fixture_docs_df,
                                    sf_docs_df, tmp_path):
    """append_batch, delete_docs and upsert_docs run as many Spark jobs
    as their work needs (one; upsert two), also on an index that is
    already tombstoned and appended, and however many tombstone files
    it holds; opening an Engine and its first small search run none."""
    from openaleph_search_spark.streaming.incremental import append_batch
    out = str(tmp_path / "idx_jobs")
    build_index(spark, fixture_docs_df, out, num_partitions=4,
                num_shards=2)
    st = IndexStorage(out)
    n, jobs = spark_jobs(lambda: delete_docs(spark, st, "lang = 'go'"))
    assert n == 1 and len(jobs) == 1
    parts = len(st.completed_partitions())
    for i, commit in enumerate(("v2", "v3")):
        batch = _batch_file(spark, sf_docs_df,
                            str(tmp_path / f"{commit}.parquet"), commit)
        assert batch.count() == 500
        _, jobs = spark_jobs(lambda: append_batch(spark, batch, out, i))
        assert jobs == [[1]]  # one job of one task
        # one new part per batch of ≤ TARGET_DOCS_PER_PARTITION docs
        assert len(st.completed_partitions()) == parts + i + 1
    assert st.read_meta()["n_docs"] == 10 + 2 * 500

    # the tombstone bookkeeping does not grow with the tombstone files
    paths = sorted(r["path"] for r in sf_docs_df.limit(40).collect())
    for k in range(3):
        delete_docs(spark, st, F.col("path") == paths[k])
    n, jobs = spark_jobs(lambda: delete_docs(
        spark, st, F.col("path").isin(paths[3:10])))
    assert len(jobs) == 1 and n == 2 * 7
    _, jobs = spark_jobs(lambda: delete_docs(spark, st, "lang = 'go'"))
    assert len(jobs) == 1

    # upsert re-versions 20 v2 docs, some of them deleted: afterwards
    # each identity has one live row, and every upserted doc is live
    up_paths = paths[20:37] + paths[:3]
    up = _batch_file(spark, sf_docs_df.filter(F.col("path").isin(up_paths)),
                     str(tmp_path / "up.parquet"), "v2")

    def live_v2(eng):
        return eng.doc_meta.filter((F.col("commit") == "v2")
                                   & F.col("path").isin(up_paths))
    before = Engine(spark, out)
    n_live, n_up = before.doc_meta.count(), live_v2(before).count()
    assert n_up < 20
    _, jobs = spark_jobs(lambda: upsert_docs(spark, st, up))
    assert len(jobs) <= 2
    eng = Engine(spark, out)
    assert eng.doc_meta.count() == n_live + 20 - n_up
    assert live_v2(eng).count() == 20
    assert eng.doc_meta.groupBy("repo", "path", "commit").count() \
        .filter("count > 1").count() == 0

    def open_and_search():
        e = Engine(spark, out)
        return e.search({"q": "banana OR the", "limit": 5}).hits.collect()
    rows, jobs = spark_jobs(open_and_search)
    assert jobs == [] and len(rows) == 5


def test_append_job_path_matches_driver_path(spark, monkeypatch,
                                             fixture_docs_df, sf_docs_df,
                                             tmp_path):
    """A batch larger than a part runs the grouped job; its index
    answers like the one the driver path wrote."""
    from openaleph_search_spark.streaming import incremental
    batch = _batch_file(spark, sf_docs_df, str(tmp_path / "b.parquet"),
                        "v2")
    engines = []
    for limit in (incremental.TARGET_DOCS_PER_PARTITION, 100):
        monkeypatch.setattr(incremental, "TARGET_DOCS_PER_PARTITION", limit)
        out = str(tmp_path / f"idx_{limit}")
        build_index(spark, fixture_docs_df, out, num_partitions=4,
                    num_shards=2, bigrams=True)
        incremental.append_batch(spark, batch, out, 0)
        engines.append(Engine(spark, out))
    driver, job = engines
    assert len(job.storage.completed_partitions()) == 8
    assert len(driver.storage.completed_partitions()) == 5
    assert job.storage.read_meta()["n_docs"] == \
        driver.storage.read_meta()["n_docs"] == 510
    for q in ("banana", "merge OR join", '"key order"', "lang:go",
              "path:banana"):
        assert _ranked(job, q) == _ranked(driver, q), q
        assert job.count({"q": q}) == driver.count({"q": q}), q


def test_delete_crash_leaves_no_tombstone(spark, mutable_index,
                                          monkeypatch):
    """A delete that dies after writing its tombstone's temp file
    changes nothing a reader sees; the next delete counts from
    scratch."""
    from openaleph_search_spark.index.fsio import FsIO
    st = IndexStorage(mutable_index)
    delete_docs(spark, st, "lang = 'md'")
    want = _hits(Engine(spark, mutable_index), {"q": "banana OR crime"})
    real = FsIO._write_atomic

    def crash_before_publish(self, uri, write):
        def write_then_die(tmp):
            write(tmp)
            raise RuntimeError("simulated crash")
        real(self, uri, write_then_die)
    monkeypatch.setattr(FsIO, "_write_atomic", crash_before_publish)
    with pytest.raises(RuntimeError, match="simulated crash"):
        delete_docs(spark, st, "lang = 'go'")
    monkeypatch.undo()
    names = os.listdir(os.path.join(mutable_index, "tombstones"))
    assert sum(n.endswith(".parquet") for n in names) == 1
    assert any(n.startswith(".") for n in names)  # the temp file
    assert read_tombstones(spark, st).count() == 1
    eng = Engine(spark, mutable_index)
    assert _hits(eng, {"q": "banana OR crime"}) == want
    assert eng.stats()["tombstoned_docs"] == 1
    assert delete_docs(spark, st, "lang = 'go'") == 1


def test_all_null_meta_column_in_a_part(spark, fixture_docs_df, tmp_path):
    """A part whose docs are all null in a meta column still writes the
    column with its real type, so doc_meta, a hydrated search and the
    export read every part; appends keep the type too."""
    from openaleph_search_spark.index.mutate import export_index
    from openaleph_search_spark.streaming.incremental import append_batch
    part = F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(4))
    docs = (fixture_docs_df
            .withColumn("owner", F.when(part != 0, F.col("repo")))
            .withColumn("stars", F.when(part != 0, F.length("path")))
            .withColumn("created", F.when(part != 0, F.expr(
                "timestamp'2021-03-04 05:06:07'"))))
    assert docs.filter(part == 0).count() >= 1
    out = str(tmp_path / "idx_nulls")
    build_index(spark, docs, out, num_partitions=4, num_shards=2,
                meta_cols=["owner", "stars", "created"])
    # an appended batch that is all null in every meta column
    append_batch(spark, docs.filter(part == 0).withColumn(
        "commit", F.lit("c9")), out, 0)
    eng = Engine(spark, out)
    types = dict(eng.doc_meta.dtypes)
    assert (types["owner"], types["stars"], types["created"]) == \
        ("string", "int", "timestamp")
    n = 10 + docs.filter(part == 0).count()
    assert len(eng.doc_meta.collect()) == n
    assert len(export_index(spark, eng.storage).collect()) == n
    hits = eng.search({"q": "banana OR kwazulu OR crime OR fruit",
                       "limit": 20}).hits.collect()
    assert any(h["owner"] is None for h in hits)
    assert any(h["owner"] is not None for h in hits)
    row = eng.doc_meta.filter(F.col("created").isNotNull()).first()
    assert row["created"].isoformat() == "2021-03-04T05:06:07"


def test_stats_reads_the_layout_with_zero_jobs(spark, mutable_index,
                                               spark_jobs):
    """Engine.stats() on a compacted, then tombstoned index runs no
    Spark job, and its per-shard blocks/postings equal a Spark
    aggregate over the postings table and its tombstone count the
    distinct tombstoned ids."""
    st = IndexStorage(mutable_index)
    delete_docs(spark, st, F.col("repo") == "r3")
    compact(spark, st)
    delete_docs(spark, st, F.col("lang") == "go")
    eng = Engine(spark, mutable_index)
    got, jobs = spark_jobs(eng.stats)
    assert jobs == []
    shards = {s: {"blocks": 0, "postings": 0} for s in range(2)}
    for r in (st.postings(spark).groupBy("shard")
              .agg(F.count("*").alias("blocks"),
                   F.sum("doc_count").alias("postings")).collect()):
        shards[r["shard"]] = {"blocks": r["blocks"],
                              "postings": r["postings"]}
    posts = [s["postings"] for s in shards.values()]
    meta = st.read_meta()
    assert got == {
        "n_docs": meta["n_docs"], "avgdl": meta["avgdl"],
        "tombstoned_docs": read_tombstones(spark, st).count(),
        "num_shards": 2, "num_partitions": meta["num_partitions"],
        "layout_version": meta["layout_version"],
        "bigrams": bool(meta.get("bigrams")),
        "n_terms": st.term_stats(spark).count(),
        "shards": shards,
        "postings_balance": min(posts) / max(max(posts), 1)}
    assert got["tombstoned_docs"] == 1 and got["n_docs"] == 8
