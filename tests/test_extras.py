"""Coverage for the remaining SURVEY §2 operators: geo (Q20),
significant_text (A6), upsert (S3), export (S6)."""
import math

import pytest
from pyspark.sql import functions as F


def test_geo_distance_query(spark):
    from openaleph_search_spark.query.geo import geo_distance_query
    df = spark.createDataFrame(
        [(1, 52.52, 13.40), (2, 48.85, 2.35), (3, 40.71, -74.00),
         (4, None, None)],
        "id long, lat double, lon double")
    out = geo_distance_query(df, lat=52.52, lon=13.40, k=10).collect()
    assert [r["id"] for r in out] == [1, 2, 3]  # Berlin, Paris, NYC
    assert out[0]["distance_km"] == 0.0
    assert 850 < out[1]["distance_km"] < 900  # Berlin→Paris ≈ 878 km
    near = geo_distance_query(df, 52.52, 13.40, max_km=1000).collect()
    assert len(near) == 2


def test_significant_text(spark):
    from openaleph_search_spark.query.facets import significant_text
    fg = spark.createDataFrame(
        [("banana fraud scheme",), ("banana fraud ring",)],
        "content string")
    bg = spark.createDataFrame(
        [("banana fraud scheme",), ("banana fraud ring",),
         ("banana bread recipe",), ("banana split dessert",),
         ("weather report sunny",), ("weather report rain",)],
        "content string")
    out = significant_text(fg, bg, "content", sample_fraction=None)
    tokens = [r["value"] for r in out.collect()]
    assert tokens[0] == "fraud"  # in all fg, rare in bg
    assert "banana" not in tokens[:1]  # common term not significant


def test_upsert(spark, fixture_docs_df, tmp_path):
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.index.mutate import upsert_docs
    from openaleph_search_spark.index.storage import IndexStorage
    from openaleph_search_spark.query.engine import Engine
    out = str(tmp_path / "idx_upsert")
    build_index(spark, fixture_docs_df, out, num_partitions=4,
                num_shards=2)
    st = IndexStorage(out)
    new_version = spark.createDataFrame(
        [("r1", "a/banana.txt", "c1", "txt",
          "completely replaced pineapple text")],
        "repo string, path string, commit string, lang string, "
        "content string")
    upsert_docs(spark, st, new_version)
    eng = Engine(spark, out)
    assert eng.count({"q": "pineapple"}) == 1
    # the old content of that row is gone; other banana doc remains
    assert eng.count({"q": "banana"}) == 1
    total = eng.search({"limit": 100}, with_total=True).total
    assert total == fixture_docs_df.count()


def test_export(spark, fixture_engine, fixture_index):
    from openaleph_search_spark.index.storage import IndexStorage
    out = IndexStorage(fixture_index).live_doc_meta(spark)
    assert out.count() == 10
    assert {"doc_id", "repo", "path", "commit", "lang",
            "content_sha256", "doc_len"} <= set(out.columns)


def test_blocking_and_match_query(spark):
    from openaleph_search_spark.ops.matching import (
        blocking_candidates, match_query)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "py"),
         (2, "alpha beta gamma delta epsilon zeta", "py"),   # exact dup
         (3, "alpha beta gamma delta epsilon eta", "go"),    # near dup
         (4, "totally different content words here now", "py")],
        "doc_id long, text string, lang string")
    probe = "alpha beta gamma delta epsilon zeta"
    cand = {r["doc_id"] for r in
            blocking_candidates(df, probe).collect()}
    assert {1, 2} <= cand and 4 not in cand
    out = match_query(df, probe, "py", k=5)
    rows = out.collect()
    assert [r["doc_id"] for r in rows[:2]] == [1, 2]
    # exact dup + near-dup shingles + full token overlap + lang
    assert rows[0]["match_score"] == 5.0 + 3.0 + 1.0 + 0.8
    by_id = {r["doc_id"]: r for r in rows}
    if 3 in by_id:  # near dup scores below the exact dups
        assert by_id[3]["match_score"] < rows[0]["match_score"]


def test_bigram_phrase_fast_path(spark, fixture_docs_df, tmp_path):
    """T16: positions disabled + bigrams → exact phrases still work
    (via the 2-gram shingle field), index carries no pos payloads."""
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.index.storage import IndexStorage
    from openaleph_search_spark.query.engine import Engine
    out = str(tmp_path / "idx_bi")
    build_index(spark, fixture_docs_df, out, num_partitions=4,
                num_shards=2, with_positions=False, bigrams=True)
    eng = Engine(spark, out)
    res = eng.search({"q": '"banana crime"', "limit": 10})
    assert [r["path"] for r in res.hit_rows(0, 10)] == ["b/crime.go"]
    assert eng.search({"q": '"crime banana"', "limit": 5}).hits.count() == 0
    # three-term phrase = chained bigrams
    res3 = eng.search({"q": '"paul manafort former"', "limit": 5})
    assert [r["path"] for r in res3.hit_rows(0, 5)] == ["b/manafort.js"]
    # index physically stores no positions
    from pyspark.sql import functions as F
    p = IndexStorage(out).postings(spark)
    assert p.filter(F.length("pos_payload") > 0).count() == 0
    # a sloppy phrase needs positions: rejected, not answered with 0 hits
    with pytest.raises(ValueError, match="with_positions=False"):
        eng.count({"q": '"banana crime"~2'})


def test_phrase_without_positions_rejected(spark, fixture_docs_df,
                                           tmp_path):
    """An index without positions or bigrams cannot answer a phrase:
    search, count, msearch, explain and mentions raise instead of 0
    hits."""
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.engine import Engine
    from openaleph_search_spark.query.percolate import mentions_query
    out = str(tmp_path / "idx_nopos")
    build_index(spark, fixture_docs_df, out, num_partitions=4,
                num_shards=2, with_positions=False)
    eng = Engine(spark, out)
    assert eng.count({"q": "banana crime"}) == 1
    for run in (lambda: eng.count({"q": '"banana crime"'}),
                lambda: eng.search({"q": '"banana crime"', "limit": 5}),
                lambda: eng.msearch({"a": {"q": '"banana crime"'}}),
                lambda: eng.explain({"q": '"banana crime"'}),
                lambda: mentions_query(eng, ["Banana Crime"])):
        with pytest.raises(ValueError, match="with_positions=False"):
            run()


def test_name_signals():
    from openaleph_search_spark.analysis.names import (
        metaphone, name_key, name_parts, name_phonetic)
    assert name_parts("Vladimir Igumnov") == ["vladimir", "igumnov"]
    assert "felix" in name_parts("Félix")
    # sorted + folded + concatenated, only if long enough
    assert name_key("Igumnov Vladimir") == name_key("Vladimir Igumnov")
    assert name_key("Jo") is None
    # phonetic buckets: spelling variants collide
    assert metaphone("schmidt") == metaphone("schmidt")
    assert name_phonetic("Vladimir") == name_phonetic("vladimir")
    assert name_phonetic("Igumnov Igumnow")[0][:3] == \
        name_phonetic("Igumnov")[0][:3]


def test_name_signals_dataframe(spark):
    from openaleph_search_spark.analysis.names import with_name_signals
    df = spark.createDataFrame(
        [("Vladimir Igumnov",), ("Wladimir Igumnow",), ("Jane Doe",)],
        "name string")
    out = with_name_signals(df, "name").collect()
    by_name = {r["name"]: r for r in out}
    a = by_name["Vladimir Igumnov"]
    assert a["name_parts"] == ["vladimir", "igumnov"]
    assert a["name_key"] is not None
    assert len(a["name_phonetic"]) == 2


def test_empty_corpus_build(spark, tmp_path, spark_jobs):
    """An empty corpus builds an index with no parts: a search, count,
    facet and msearch over it return empty results with zero Spark
    jobs."""
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.engine import Engine
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, "
            "content string")
    out = str(tmp_path / "idx_empty")
    st = build_index(spark, empty, out, num_partitions=2, num_shards=2)
    assert st.read_meta()["n_docs"] == 0
    assert st.doc_meta_schema().names[0] == "doc_id"
    eng = Engine(spark, out)
    assert eng.executor.scatter_ok()
    reads = {
        "search": lambda: eng.search({"q": "anything", "limit": 5})
        .hits.collect(),
        "count": lambda: eng.count({"q": "anything OR else"}),
        "facet": lambda: eng.search({"q": "anything", "facet": "lang",
                                     "limit": 0}).facets["lang"].collect(),
        "msearch": lambda: eng.msearch({"a": {"q": "anything"}}).collect(),
    }
    for name, fn in reads.items():
        got, jobs = spark_jobs(fn)
        assert jobs == [] and not got, name
    assert eng.count({}) == 0


def test_function_score(fixture_engine):
    """Q21: additive length-prior boost reorders by doc_len."""
    import math
    base = fixture_engine.search({"q": "banana", "limit": 10})
    boosted = fixture_engine.search({"q": "banana",
                                     "function_score": "true",
                                     "limit": 10})
    b = {r["doc_id"]: r for r in base.hit_rows(0, 10)}
    f = {r["doc_id"]: r for r in boosted.hit_rows(0, 10)}
    assert set(b) == set(f)
    for d, row in f.items():
        expect = b[d]["score"] + math.sqrt(0.5 * b[d]["doc_len"])
        assert abs(row["score"] - expect) < 1e-9


def test_bigram_fast_path_positions_on_score_identical(
        spark, fixture_docs_df, tmp_path):
    """Phrase fast path (VERDICT r1): with positions ON and bigrams
    built, slop-0 phrases pre-intersect on the shingle postings (2-term
    phrases skip the positional decode entirely) — scores must stay
    identical to the pure positional path, sloppy phrases included."""
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.engine import Engine
    plain = str(tmp_path / "idx_pos_plain")
    fast = str(tmp_path / "idx_pos_bi")
    build_index(spark, fixture_docs_df, plain, num_partitions=4,
                num_shards=2)
    build_index(spark, fixture_docs_df, fast, num_partitions=4,
                num_shards=2, bigrams=True)
    e_p, e_f = Engine(spark, plain), Engine(spark, fast)

    def hits(eng, q):
        res = eng.search({"q": q, "limit": 10})
        return [(r["path"], round(r["score"], 10))
                for r in res.hit_rows(0, 10)]

    for q in ('"banana crime"',          # 2-term: bigram tf == phrase tf
              '"banana crime wave"',     # 3-term: bigram pre-intersect
              '"banana ba nana"',
              '"crime banana"',          # no match
              '"banana crime"~2',        # sloppy: positional path
              '"kwazulu natal" OR banana',
              'path:banana "banana crime"'):
        assert hits(e_p, q) == hits(e_f, q), q
    # repeated-term phrase: "banana crime ... banana crime wave of banana"
    assert hits(e_p, '"banana crime" "crime wave"') == \
        hits(e_f, '"banana crime" "crime wave"')


def test_highlight_query_override_and_filter_values(
        spark, fixture_index, fixture_docs_df):
    """Q24 parity knobs (reference base.py:394-452): highlight_query
    overrides the term source; human-readable filter values highlight
    too; short-code groups (lang) never do."""
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, source_docs=fixture_docs_df)
    # override: query matches 'banana', highlighting marks 'crime'
    res = eng.search({"q": "banana", "highlight": "true",
                      "highlight_query": "crime", "limit": 10})
    frags = {r["path"]: r["highlights"] for r in res.hit_rows(0, 10)}
    assert any("<em>crime</em>" in f for f in frags["b/crime.go"])
    assert not any("<em>banana</em>" in f
                   for fl in frags.values() for f in fl)
    # filter values highlight; lang codes don't
    res2 = eng.search({"q": "banana", "filter:lang": "go",
                       "highlight": "true", "limit": 10})
    rows2 = res2.hit_rows(0, 10)
    assert len(rows2) == 1
    assert any("<em>banana</em>" in f for f in rows2[0]["highlights"])
    assert not any("<em>go</em>" in f for f in rows2[0]["highlights"])


def test_highlight_wildcard_expansions(spark, fixture_index,
                                       fixture_docs_df):
    """Q24 + Q1: wildcard/prefix EXPANSIONS highlight (the expanded
    dictionary terms feed the fragmenter, not the raw pattern)."""
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, source_docs=fixture_docs_df)
    res = eng.search({"q": "cr?me", "highlight": "true", "limit": 10})
    frags = {r["path"]: r["highlights"] for r in res.hit_rows(0, 10)}
    assert any("<em>crime</em>" in f for f in frags["b/crime.go"])


def test_load_table_catalog_path(spark, fixture_docs_df):
    """table:-scheme input resolves through the session catalog (the
    Iceberg deployment path) and validates the mandated columns."""
    import pytest
    from openaleph_search_spark.sources.code_table import load_table
    fixture_docs_df.createOrReplaceTempView("docs_v")
    out = load_table(spark, "docs_v")
    assert out.columns == ["repo", "path", "commit", "lang", "content"]
    assert out.count() == fixture_docs_df.count()
    fixture_docs_df.drop("content").createOrReplaceTempView("bad_v")
    with pytest.raises(ValueError, match="missing required columns"):
        load_table(spark, "bad_v")
