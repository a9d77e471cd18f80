"""Phase-8 feature tests: highlighting (Q24), more_like_this (Q16),
synonyms (Q22/Q23), percolation (Q15), mentions (Q19) — semantics
pinned against the reference's feature suites
(/root/reference/tests/test_highlighting.py, test_percolator.py,
tests/test_search.py:927-1105)."""
import pytest

from openaleph_search_spark.query.highlight import highlight_text
from openaleph_search_spark.query.percolate import (
    clean_names, compile_watchlist, percolate_docs, percolate_text)
from openaleph_search_spark.query.synonyms import SynonymTable


# ------------------------------------------------------------- highlight --
def test_highlight_basic():
    frags = highlight_text("Paul Manafort, former chairman, proclaimed",
                           {"manafort"})
    assert frags == ["Paul <em>Manafort</em>, former chairman, proclaimed"]


def test_highlight_html_escaped():
    frags = highlight_text("hello <h1 class='foo'>Félix!</h1> bye",
                           {"felix"})
    assert len(frags) == 1
    assert "<h1" not in frags[0]
    assert "<em>Félix</em>" in frags[0]


def test_highlight_no_match_fallback():
    text = "x" * 1000
    frags = highlight_text(text, {"absent"})
    assert len(frags) == 1 and len(frags[0]) == 300  # no_match_size


def test_highlight_fragment_windowing():
    text = ("banana " + "filler " * 100 + "banana split " +
            "filler " * 100 + "banana")
    frags = highlight_text(text, {"banana", "split"})
    assert 1 <= len(frags) <= 3
    # the best fragment contains both distinct hits
    assert "<em>banana</em> <em>split</em>" in frags[0]


def test_highlight_empty():
    assert highlight_text("", {"x"}) == []


def test_engine_highlight(spark, fixture_index, fixture_docs_df):
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, source_docs=fixture_docs_df)
    res = eng.search({"q": "manafort", "highlight": "true", "limit": 5})
    rows = res.hit_rows(0, 5)
    assert rows and any("<em>Manafort</em>" in f
                        for f in rows[0]["highlights"])


# ---------------------------------------------------------------- MLT ----
def test_more_like_this(spark, fixture_engine, fixture_docs_df):
    from openaleph_search_spark.query.more_like_this import more_like_this
    meta = {r["path"]: r["doc_id"]
            for r in fixture_engine.doc_meta.select("doc_id", "path")
            .collect()}
    src = meta["a/banana.txt"]  # "Banana ba Nana is a fruit stand"
    out = more_like_this(fixture_engine, src, k=5, min_len=2,
                         min_should_pct=0.1)
    rows = out.collect()
    ids = [r["doc_id"] for r in rows]
    assert src not in ids
    assert meta["b/crime.go"] in ids  # shares 'banana'


def test_mlt_min_should_match(spark, fixture_engine):
    """min_should=2 requires ≥2 distinct matching terms."""
    from openaleph_search_spark.query.ir import Bool, TermLeaf
    tree = Bool(should=[TermLeaf("banana"), TermLeaf("kwazulu"),
                        TermLeaf("crime")], min_should=2)
    rows = fixture_engine.executor.run(tree, k=None).collect()
    # only crime.go (banana+crime) and jane.py (crime only→no) qualify;
    # long.rs has kwazulu only → no
    metas = {r["doc_id"]: r for r in
             fixture_engine.doc_meta.collect()}
    paths = sorted(metas[r["doc_id"]]["path"] for r in rows)
    assert paths == ["b/crime.go"]


# ------------------------------------------------------------- synonyms --
@pytest.fixture(scope="module")
def syn_table():
    return SynonymTable([["schkuro", "shkuro", "škuro"],
                         ["igumnov", "igumnow"],
                         ["vladimir", "wladimir", "владимир"]])


def test_synonyms_off_exact_only(fixture_engine):
    res = fixture_engine.search({"q": "vladimir", "limit": 10})
    assert len(res.hit_rows(0, 10)) == 1  # igumnov doc only (latin)


def test_synonyms_on_cross_variant(spark, fixture_index, syn_table):
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, synonyms=syn_table)
    res = eng.search({"q": "vladimir", "synonyms": "true", "limit": 10})
    rows = res.hit_rows(0, 10)
    paths = {r["path"] for r in rows}
    # finds both the latin (vladimir/wladimir) and cyrillic (владимир) docs
    assert paths == {"a/igumnov.md", "b/putin.txt"}


def test_synonyms_no_false_positives(spark, fixture_index, syn_table):
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, synonyms=syn_table)
    res = eng.search({"q": "banana", "synonyms": "true", "limit": 10})
    assert len(res.hit_rows(0, 10)) == 2  # unchanged


# ------------------------------------------------------------ percolate --
def test_clean_names_thresholds():
    # reference: single tokens <7 chars dropped, "KwaZulu" (7) kept
    assert clean_names(["Banana"]) == []            # 6 chars
    assert clean_names(["Doe"]) == []
    assert clean_names(["KwaZulu"]) == [["kwazulu"]]
    assert clean_names(["Jane Doe"]) == [["jane", "doe"]]
    assert clean_names(["J. D."]) == []             # initials only


def test_percolate_text():
    stored = compile_watchlist([
        {"entity_id": "e1", "names": ["Paul Manafort"],
         "other_names": ["Manafort Paul"]},
        {"entity_id": "e2", "names": ["Jane Doe"]},
        {"entity_id": "e3", "names": ["KwaZulu"]},
    ])
    out = percolate_text(
        "Paul Manafort, former chairman, met Jane Doe.", stored)
    by_id = {r["entity_id"]: r for r in out}
    assert set(by_id) == {"e1", "e2"}
    # primary "paul manafort" (2.0) + reversed other_name "manafort
    # paul" also within slop 2 (0.8) → 2.8
    assert by_id["e1"]["score"] == pytest.approx(2.8)
    assert by_id["e1"]["matched_names"] == ["paul manafort",
                                            "manafort paul"]
    assert by_id["e2"]["score"] == 2.0


def test_percolate_docs_batch(spark, fixture_docs_df):
    stored = compile_watchlist([
        {"entity_id": "e1", "names": ["Paul Manafort"]},
        {"entity_id": "e2", "names": ["Vladimir Igumnov"]},
        {"entity_id": "e3", "names": ["Владимир Путин"]},
    ])
    out = percolate_docs(fixture_docs_df, stored, slop=2).collect()
    hits = {(r["path"], r["entity_id"]) for r in out}
    assert ("b/manafort.js", "e1") in hits
    assert ("a/igumnov.md", "e2") in hits
    assert ("b/putin.txt", "e3") in hits  # slop 2 skips patronymic
    assert all(r["score"] == 2.0 for r in out)


def test_percolate_arrow_emitter_matches_percolate_text(
        spark, fixture_docs_df):
    """percolate_docs emits through the one mapInArrow body, batch and
    streaming alike; its rows must equal the per-doc percolate_text
    reference on every (doc, entity, score, matched_names)."""
    from openaleph_search_spark.query.percolate import (
        compile_watchlist, percolate_docs, percolate_text)
    stored = compile_watchlist([
        {"entity_id": "e1", "names": ["Paul Manafort"],
         "other_names": ["Manafort"]},
        {"entity_id": "e3", "names": ["Владимир Путин"]},
    ])
    got = sorted((r["path"], r["entity_id"], round(r["score"], 9),
                  tuple(r["matched_names"]))
                 for r in percolate_docs(fixture_docs_df, stored,
                                         slop=2).collect())
    want = sorted((r["path"], h["entity_id"], round(h["score"], 9),
                   tuple(h["matched_names"]))
                  for r in fixture_docs_df.collect()
                  for h in percolate_text(r["content"], stored, slop=2))
    assert got and got == want


def test_percolate_docs_large_var_types(spark, fixture_docs_df):
    """With useLargeVarTypes on, Spark declares large_string for the
    result's strings: the batch must percolate to the same rows, and
    the mapInArrow emitter must build that type itself."""
    stored = compile_watchlist([
        {"entity_id": "e1", "names": ["Paul Manafort"]},
        {"entity_id": "e3", "names": ["Владимир Путин"]},
    ])
    key = lambda r: (r["path"], r["entity_id"], r["score"],
                     tuple(r["matched_names"]))
    want = sorted(map(key, percolate_docs(fixture_docs_df, stored,
                                          slop=2).collect()))
    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    old = spark.conf.get(conf, "false")
    spark.conf.set(conf, "true")
    try:
        got = sorted(map(key, percolate_docs(fixture_docs_df, stored,
                                             slop=2).collect()))
    finally:
        spark.conf.set(conf, old)
    assert want and got == want
    import pyarrow as pa
    from openaleph_search_spark.query.percolate import (
        _percolate_batch_arrow_fn)
    pdf = fixture_docs_df.select("path", "content").toPandas()
    rb = pa.RecordBatch.from_pandas(pdf, preserve_index=False).cast(
        pa.schema([("path", pa.large_string()),
                   ("content", pa.large_string())]))
    fn = _percolate_batch_arrow_fn(stored, ["path"], "content", 2,
                                   large_var_types=True)
    out = list(fn(iter([rb])))
    assert out
    for b in out:
        assert pa.types.is_large_string(b.schema.field("entity_id").type)
        assert pa.types.is_large_string(
            b.schema.field("matched_names").type.value_type)


# ------------------------------------------------------------- mentions --
def test_mentions_query(fixture_engine, spark_jobs, monkeypatch):
    """topk() runs the bounded gather: a one-group mentions query runs
    no Spark job, and its LocalRelation holds the global top-k by
    (score desc, doc_id asc) — the same rows a ≥2-group job returns."""
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.percolate import mentions_query
    names = ["Paul Manafort", "KwaZulu"]
    out, jobs = spark_jobs(lambda: mentions_query(
        fixture_engine, names, k=10).collect())
    assert jobs == []
    metas = {r["doc_id"]: r["path"]
             for r in fixture_engine.doc_meta.collect()}
    paths = {metas[r["doc_id"]] for r in out}
    assert paths == {"b/manafort.js", "a/kwazulu.txt", "c/long.rs"}
    got = [tuple(r) for r in mentions_query(fixture_engine, names, k=2)
           .collect()]
    assert len(got) == 2 and got == sorted(got, key=lambda r: (-r[1], r[0]))
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)
    again, jobs = spark_jobs(lambda: [tuple(r) for r in mentions_query(
        fixture_engine, names, k=2).collect()])
    assert len(jobs) == 1 and again == got


def test_multi_mentions_attribution(fixture_engine, spark_jobs,
                                    monkeypatch):
    """A one-group multi_mentions plan runs no Spark job: the gathered
    rows are cut to each entity's top-k in pandas, and a ≥2-group job
    returns the same rows."""
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.percolate import multi_mentions
    entities = {"e1": ["Paul Manafort"], "e2": ["KwaZulu"],
                "e3": ["banana crime"]}
    out, jobs = spark_jobs(lambda: multi_mentions(
        fixture_engine, entities, k=10).collect())
    assert jobs == []
    by_entity = {}
    for r in out:
        by_entity.setdefault(r["entity_id"], set()).add(r["doc_id"])
    assert len(by_entity["e1"]) == 1
    assert len(by_entity["e2"]) == 2
    best = {}
    for r in sorted(out, key=lambda r: (-r["score"], r["doc_id"])):
        best.setdefault(r["entity_id"], tuple(r))
    cut = sorted(map(tuple, multi_mentions(fixture_engine, entities,
                                           k=1).collect()))
    assert cut == sorted(best.values()) and len(cut) == 3
    monkeypatch.setattr(xmod, "_POSTINGS_PER_TASK", 1)  # ≥2 groups
    again, jobs = spark_jobs(lambda: multi_mentions(
        fixture_engine, entities, k=1).collect())
    assert len(jobs) == 1 and jobs[0][0] >= 2
    assert sorted(map(tuple, again)) == cut


def test_synonyms_preserve_field(spark, fixture_index, syn_table):
    """Regression (ADVICE r1): synonym rewrite must keep the field
    attribute — lang:vladimir must NOT match content terms."""
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, synonyms=syn_table)
    res = eng.search({"q": "lang:vladimir", "synonyms": "true",
                      "limit": 10})
    assert res.hit_rows(0, 10) == []
    # fielded term WITH synonyms still searches the right field
    res2 = eng.search({"q": "path:igumnov", "synonyms": "true",
                       "limit": 10})
    assert {r["path"] for r in res2.hit_rows(0, 10)} == {"a/igumnov.md"}


def test_multi_mentions_single_job_parity(fixture_engine):
    """VERDICT r1: multi_mentions must run as ONE grouped-map job and
    return exactly what per-entity topk() unions returned."""
    from openaleph_search_spark.query.percolate import (mentions_tree,
                                                        multi_mentions)
    entities = {"e1": ["Banana"], "e2": ["KwaZulu Natal"],
                "e3": ["Vladimir Igumnov", "Wladimir Igumnow"],
                "e4": ["nothing matches this"]}
    got = sorted(
        ((r["entity_id"], r["doc_id"], round(r["score"], 9))
         for r in multi_mentions(fixture_engine, entities, k=5).collect()))
    want = []
    for eid, names in entities.items():
        tree = mentions_tree(names, 2)
        if tree is None:
            continue
        for r in fixture_engine.executor.topk(tree, 5).collect():
            want.append((eid, r["doc_id"], round(r["score"], 9)))
    assert got == sorted(want) and got, got


def test_pick_names_budget():
    from openaleph_search_spark.query.percolate import pick_names
    names = [f"variant {i} of a very long name" for i in range(20)]
    names += ["completely different string", "zzz"]
    got = pick_names(names, limit=5)
    assert len(got) == 5 and len(set(got)) == 5
    # diversity: the two outliers beat near-identical variants
    assert "zzz" in got and "completely different string" in got
    # deterministic
    assert got == pick_names(list(reversed(names)), limit=5)
    # under budget → unchanged (sorted set)
    assert pick_names(["b", "a"], limit=5) == ["a", "b"]


def test_mentions_tree_clause_budget():
    from openaleph_search_spark.query.percolate import (MAX_PICKED_NAMES,
                                                        mentions_tree)
    names = [f"alias number {i} extra" for i in range(50)]
    tree = mentions_tree(names)
    assert len(tree.should) == MAX_PICKED_NAMES


def test_stored_percolator_registry(spark, fixture_index,
                                    fixture_docs_df):
    """Register-once percolation surface (reference index/indexes.py:
    119-124): queries persist in the index dir and survive reloads."""
    from openaleph_search_spark.index.storage import IndexStorage
    from openaleph_search_spark.query.percolate import (
        load_watchlist, percolate_index, register_watchlist,
        unregister_watchlist)
    st = IndexStorage(fixture_index)
    n = register_watchlist(st, [
        {"entity_id": "w1", "names": ["Banana Crime"]},
        {"entity_id": "w2", "names": ["KwaZulu Natal"]},
    ])
    assert n == 2
    out = percolate_index(st, fixture_docs_df).collect()
    hits = {(r["entity_id"], r["path"]) for r in out}
    assert ("w1", "b/crime.go") in hits
    assert ("w2", "a/kwazulu.txt") in hits
    # fresh storage object sees the registry (it is persisted)
    st2 = IndexStorage(fixture_index)
    assert {q.entity_id for q in load_watchlist(st2)} == {"w1", "w2"}
    # re-register replaces; unregister removes
    register_watchlist(st2, [{"entity_id": "w1", "names": ["Manafort"]}])
    assert len(load_watchlist(st2)) == 2
    unregister_watchlist(st2, ["w2"])
    assert {q.entity_id for q in load_watchlist(st2)} == {"w1"}
    # compaction folds the batch history into one last-wins batch
    from openaleph_search_spark.query.percolate import (_registry_batches,
                                                        compact_registry)
    before = [(q.entity_id, q.clauses) for q in load_watchlist(st2)]
    assert len(_registry_batches(st2)) >= 3
    kept = compact_registry(st2)
    assert kept == 1
    assert len(_registry_batches(st2)) == 1
    assert [(q.entity_id, q.clauses)
            for q in load_watchlist(st2)] == before


def test_dehydrate_include_fields(fixture_engine):
    """Q25: dehydrate strips the payload; include_fields adds columns
    or whole groups back (reference queries.py:279-294)."""
    res = fixture_engine.search({"q": "banana", "limit": 5,
                                 "dehydrate": "true"})
    assert set(res.hits.columns) == {"doc_id", "score", "repo", "path"}
    res2 = fixture_engine.search({"q": "banana", "limit": 5,
                                  "dehydrate": "true",
                                  "include_fields": "lang,stats"})
    assert set(res2.hits.columns) == {"doc_id", "score", "repo", "path",
                                      "lang", "doc_len",
                                      "content_sha256"}
    assert res2.hit_rows(0, 5)


def test_synonym_keyword_legs(spark, fixture_docs_df, tmp_path):
    """Q22 keyword-side expansion (reference queries.py:56-108): with
    synonyms=true a free-text term gains name_symbols (boost 0.5) and
    name_keys (boost 0.3) legs over indexed keyword fields."""
    from pyspark.sql import functions as F
    from openaleph_search_spark.analysis.names import name_key
    from openaleph_search_spark.index.build import (DEFAULT_FIELDS,
                                                    build_index)
    from openaleph_search_spark.query.engine import Engine
    # symbol + name-key columns (the indexer-side T5-T8 signals; the
    # symbol dictionary itself is caller-supplied)
    docs = fixture_docs_df.withColumn(
        "sym", F.when(F.col("path").isin("a/igumnov.md", "b/putin.txt"),
                      "Q7747").otherwise(F.lit("")))
    docs = docs.withColumn(
        "nk", F.when(F.col("path") == "a/igumnov.md",
                     name_key("vladimir") or "").otherwise(F.lit("")))
    out = str(tmp_path / "idx_syn_legs")
    build_index(spark, docs, out, num_partitions=4, num_shards=2,
                fields={**DEFAULT_FIELDS, "name_symbols": "sym",
                        "name_keys": "nk"})
    from openaleph_search_spark.query.synonyms import SynonymTable
    table = SynonymTable([], symbols={"vladimir": "Q7747"},
                         key_field="name_keys")
    eng = Engine(spark, out, synonyms=table)
    # without synonyms: only the doc containing the latin token
    plain = eng.search({"q": "vladimir", "limit": 10}).hit_rows(0, 10)
    assert {r["path"] for r in plain} == {"a/igumnov.md"}
    # with synonyms: the symbol leg also finds the cyrillic doc
    res = eng.search({"q": "vladimir", "synonyms": "true", "limit": 10})
    rows = res.hit_rows(0, 10)
    assert {r["path"] for r in rows} == {"a/igumnov.md", "b/putin.txt"}
    # legs boost the doc carrying both signals above the symbol-only doc
    assert rows[0]["path"] == "a/igumnov.md"


def test_synonyms_multi_token_both_directions(spark, tmp_path):
    """Q23 synonym_graph contract: a rule like ``new york, nyc`` fires
    in BOTH directions — a single query token expands to the phrase
    alternative, and an adjacent-token run collapses to the group."""
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.engine import Engine
    docs = spark.createDataFrame(
        [("r1", "d1.txt", "c1", "en", "new york pizza is great"),
         ("r1", "d2.txt", "c1", "en", "nyc pizza is great"),
         ("r1", "d3.txt", "c1", "en", "boston pizza is great")],
        "repo string, path string, commit string, lang string, "
        "content string")
    idx = str(tmp_path / "syn_idx")
    build_index(spark, docs, idx, num_partitions=2, num_shards=1)
    tab = SynonymTable([["new york", "nyc"]])
    eng = Engine(spark, idx, synonyms=tab)

    def paths(args):
        return {r["path"] for r in eng.search(args).hit_rows(0, 10)}

    # off: literal only
    assert paths({"q": "nyc pizza", "limit": 10}) == {"d2.txt"}
    # single token -> phrase alternative
    assert paths({"q": "nyc pizza", "synonyms": "true",
                  "limit": 10}) == {"d1.txt", "d2.txt"}
    # adjacent-token run -> group (multi-token LHS)
    assert paths({"q": "new york pizza", "synonyms": "true",
                  "limit": 10}) == {"d1.txt", "d2.txt"}
    # AND semantics survive the rewrite: d3 has pizza but no group leg
    assert "d3.txt" not in paths({"q": "new york pizza",
                                  "synonyms": "true", "limit": 10})
