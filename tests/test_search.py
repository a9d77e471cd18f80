"""End-to-end golden search tests: engine (doc_id, score) output vs the
independent pure-Python BM25 oracle, over the fixture corpus — the
reference's golden-ranking discipline
(/root/reference/tests/test_search.py, test_matching.py:42)."""
import pytest

from tests.conftest import FIXTURE_DOCS
from tests.oracle import OracleIndex

TOL = 1e-9


@pytest.fixture(scope="module")
def ids_by_path(fixture_engine):
    rows = fixture_engine.doc_meta.select("doc_id", "path").collect()
    return {r["path"]: r["doc_id"] for r in rows}


@pytest.fixture(scope="module")
def oracle(ids_by_path):
    docs = {}
    for repo, path, commit, lang, content in FIXTURE_DOCS:
        docs[ids_by_path[path]] = content
    return OracleIndex(docs)


def engine_topk(engine, q, k=10, **args):
    res = engine.search({"q": q, "limit": k, **args})
    return [(r["doc_id"], r["score"]) for r in res.hit_rows(0, k)]


def assert_rank_identical(got, want):
    assert len(got) == len(want), (got, want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gd == wd, (got, want)
        assert abs(gs - ws) < TOL, (got, want)


def test_single_term(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "banana")
    want = oracle.topk(oracle.or_query(["banana"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 2  # banana.txt + crime.go


def test_multi_term_default_and(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "banana nana")
    want = oracle.topk(oracle.and_query(["banana", "nana"]), 10)
    assert_rank_identical(got, want)


def test_or_query(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "banana OR kwazulu")
    want = oracle.topk(oracle.or_query(["banana", "kwazulu"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 4


def test_not_query(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "banana NOT crime")
    want = oracle.topk(
        oracle.not_filter(oracle.or_query(["banana"]), ["crime"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 1


def test_pure_negative_query(fixture_engine, oracle):
    """'NOT x' = match_all minus x (ES lenient query_string)."""
    res = fixture_engine.search({"q": "NOT banana", "limit": 100},
                                with_total=True)
    assert res.total == len(FIXTURE_DOCS) - 2
    ids = [r["doc_id"] for r in res.hit_rows(0, 100)]
    assert ids == sorted(ids)  # unscored, _doc order
    assert fixture_engine.count({"q": "NOT banana"}) == res.total


def test_and_or_combination(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "banana AND crime OR kwazulu")
    # grammar: OR binds last → (banana AND crime) OR (kwazulu)
    want_and = oracle.and_query(["banana", "crime"])
    want_or = oracle.or_query(["kwazulu"])
    merged = dict(want_or)
    for d, s in want_and.items():
        merged[d] = merged.get(d, 0.0) + s
    assert_rank_identical(got, oracle.topk(merged, 10))


def test_phrase_exact(fixture_engine, oracle):
    got = engine_topk(fixture_engine, '"banana crime"')
    want = oracle.topk(oracle.phrase_query(["banana", "crime"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 1


def test_phrase_no_match_wrong_order(fixture_engine, oracle):
    got = engine_topk(fixture_engine, '"crime banana"')
    assert got == []


def test_phrase_slop(fixture_engine, oracle):
    # "banana wave"~2: crime.go has "banana crime wave" → slop 1 apart
    got = engine_topk(fixture_engine, '"banana wave"~2')
    want = oracle.topk(oracle.phrase_query(["banana", "wave"], slop=2), 10)
    assert_rank_identical(got, want)
    assert len(got) == 1


def test_phrase_three_terms(fixture_engine, oracle):
    got = engine_topk(fixture_engine, '"paul manafort former"')
    want = oracle.topk(
        oracle.phrase_query(["paul", "manafort", "former"]), 10)
    assert_rank_identical(got, want)


def test_folding_cross_script_query(fixture_engine, oracle):
    # query with accents finds folded terms and vice versa
    got = engine_topk(fixture_engine, "Félix")
    want = oracle.topk(oracle.or_query(["felix"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 1
    got2 = engine_topk(fixture_engine, "cafe")
    assert len(got2) == 1


def test_cyrillic_query(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "Путин")
    want = oracle.topk(oracle.or_query(["путин"]), 10)
    assert_rank_identical(got, want)


def test_zwj_annotation_searchable(fixture_engine, oracle):
    # annotated marker terms are searchable (reference test_search.py:713+)
    got = engine_topk(fixture_engine, "__per__")
    want = oracle.topk(oracle.or_query(["__per__"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 1


def test_zwj_proximity_phrase(fixture_engine, oracle):
    # "crime __PER__"~5: marker and crime co-occur within window
    got = engine_topk(fixture_engine, '"__per__ crime"~5')
    want = oracle.topk(oracle.phrase_query(["__per__", "crime"], slop=5), 10)
    assert_rank_identical(got, want)
    assert len(got) == 1


def test_prefix_query(fixture_engine, oracle):
    got = engine_topk(fixture_engine, "kwaz*")
    want = oracle.topk(oracle.or_query(["kwazulu"]), 10)
    assert_rank_identical(got, want)
    assert len(got) == 2  # kwazulu.txt + long.rs


def test_prefix_expands_terms_above_u_ffff(spark, tmp_path, monkeypatch):
    """A prefix's dictionary range ends at the prefix with its last
    code point incremented: ``ab*`` also expands ``ab𠀀`` (U+20000
    sorts above ``ab`` + U+FFFF), from the dictionary held in the
    driver and from its files (budget 0)."""
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    idx = str(tmp_path / "idx_astral")
    build_index(spark, spark.createDataFrame(
        [("r", f"d{i}.txt", "c", "en", text)
         for i, text in enumerate(["ab abc", "abz x", "ab𠀀 y", "ac"])],
        "repo string, path string, commit string, lang string, "
        "content string"), idx, num_partitions=1, num_shards=1)
    for budget in (xmod._DRIVER_CACHE_BYTES, 0):
        monkeypatch.setattr(xmod, "_DRIVER_CACHE_BYTES", budget)
        eng = Engine(spark, idx)
        rows = eng.search({"q": "ab*", "limit": 10}).hit_rows(0, 10)
        assert {r["path"] for r in rows} == {"d0.txt", "d1.txt", "d2.txt"}
        e = eng.explain({"q": "ab*"})
        assert sorted(e["expansions"]["ab*"]) == ["ab", "abc", "abz", "ab𠀀"]
        assert (e["term_dict"] is None) == (budget == 0)


def test_term_filter(fixture_engine, ids_by_path):
    res = fixture_engine.search(
        {"q": "banana", "filter:lang": "go", "limit": 10})
    rows = res.hit_rows(0, 10)
    assert [r["doc_id"] for r in rows] == [ids_by_path["b/crime.go"]]


def test_exclude_filter(fixture_engine, ids_by_path):
    res = fixture_engine.search(
        {"q": "banana", "exclude:lang": "go", "limit": 10})
    rows = res.hit_rows(0, 10)
    assert [r["doc_id"] for r in rows] == [ids_by_path["a/banana.txt"]]


def test_range_filter(fixture_engine):
    res = fixture_engine.search(
        {"q": "kwazulu", "filter:gte:doc_len": "100", "limit": 10})
    rows = res.hit_rows(0, 10)
    assert len(rows) == 1 and rows[0]["path"] == "c/long.rs"


def test_empty_query_match_all(fixture_engine):
    res = fixture_engine.search({"limit": 100}, with_total=True)
    assert res.total == len(FIXTURE_DOCS)
    ids = [r["doc_id"] for r in res.hit_rows(0, 100)]
    assert ids == sorted(ids)  # _doc order


def test_pagination(fixture_engine):
    all_ids = [r["doc_id"] for r in
               fixture_engine.search({"limit": 100}).hit_rows(0, 100)]
    page = fixture_engine.search({"limit": 3, "offset": 2})
    assert [r["doc_id"] for r in page.hit_rows(2, 3)] == all_ids[2:5]


def test_search_after_sorted(fixture_engine):
    """Keyset pagination: a cursored page equals the matching slice of
    the unpaged sorted result (sort field + doc_id tiebreak)."""
    base = {"sort": "path"}
    rows = fixture_engine.search({**base, "limit": 100}).hit_rows(0, 100)
    assert len(rows) >= 4
    cur = rows[1]  # cursor = second row → page starts at the third
    page = fixture_engine.search(
        {**base, "limit": 2,
         "search_after": [cur["path"], str(cur["doc_id"])]})
    got = [r["doc_id"] for r in page.hit_rows(0, 2)]
    assert got == [r["doc_id"] for r in rows[2:4]]


def test_search_after_doc_order(fixture_engine):
    """_doc-order scan continuation: single doc_id cursor."""
    rows = fixture_engine.search({"limit": 100}).hit_rows(0, 100)
    cur = rows[2]["doc_id"]
    page = fixture_engine.search(
        {"limit": 3, "search_after": [str(cur)]})
    got = [r["doc_id"] for r in page.hit_rows(0, 3)]
    assert got == [r["doc_id"] for r in rows[3:6]]


def test_search_after_requires_sort(fixture_engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="search_after"):
        fixture_engine.search(
            {"q": "banana", "limit": 3, "search_after": ["5"]})


def test_search_after_validation(fixture_engine):
    """Bad cursors raise at plan time — never a silent empty page."""
    import pytest as _pytest
    # arity mismatch on the _doc-order scan
    with _pytest.raises(ValueError, match="single last doc_id"):
        fixture_engine.search({"limit": 3, "search_after": ["a", "1"]})
    # uncastable value for a typed sort column
    with _pytest.raises(ValueError, match="not valid"):
        fixture_engine.search({"sort": "doc_len", "limit": 3,
                               "search_after": ["abc", "5"]})
    # score is not a stored column → no float cursors through sort=
    with _pytest.raises(ValueError, match="stored doc_meta column"):
        fixture_engine.search({"q": "banana", "sort": "score:desc",
                               "limit": 3, "search_after": ["1.5", "2"]})


def test_search_after_null_sort_keys(spark, fixture_docs_df, tmp_path):
    """nulls_last keyset: null-keyed rows stay reachable after a
    non-null cursor, and a None cursor element resumes among them."""
    import pyspark.sql.functions as SF
    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.query.engine import Engine
    docs = fixture_docs_df.withColumn(
        "nullable_ext",
        SF.when(SF.col("path").endswith(".txt"), None)
        .otherwise(SF.element_at(SF.split("path", r"\."), -1)))
    idx = str(tmp_path / "idx_nullable_ext")
    build_index(spark, docs, idx, num_partitions=2, num_shards=1,
                meta_cols=["nullable_ext"])
    eng = Engine(spark, idx)
    base = {"sort": "nullable_ext"}
    rows = eng.search({**base, "limit": 100}).hit_rows(0, 100)
    nn = [r for r in rows if r["nullable_ext"] is not None]
    cur = nn[-1]  # last non-null row: next page = the null region
    page = eng.search(
        {**base, "limit": 100,
         "search_after": [cur["nullable_ext"],
                          str(cur["doc_id"])]}).hit_rows(0, 100)
    want = [r["doc_id"] for r in rows if r["nullable_ext"] is None]
    assert sorted(r["doc_id"] for r in page) == sorted(want)
    assert len(want) > 0
    # resume WITHIN the null region via a None cursor element
    page2 = eng.search(
        {**base, "limit": 100,
         "search_after": [None, str(want[0])]}).hit_rows(0, 100)
    assert [r["doc_id"] for r in page2] == want[1:]


def test_explain_strategies(fixture_engine):
    """Planner-debug output names the path each part of search() takes
    — the order its hits pass cuts in and whether it prunes, its facet
    passes (one per filter set left out) and the aggregations that read
    the full match in Spark — and surfaces expansions / phrase fast
    paths."""
    score = ["score:desc", "doc_id:asc"]
    e = fixture_engine.explain({"q": "banana crime", "limit": 10})
    assert e["hits_order"] == score
    assert e["pruning_eligible"] and e["k"] == 10
    assert e["facet_passes"] == [] and e["full_match"] == []
    assert e["full_match_tasks"] is None
    assert set(e["terms"]) >= {"banana", "crime"}
    e = fixture_engine.explain({"q": "ba*", "limit": 5})
    assert "banana" in e["expansions"]["ba*"]
    e = fixture_engine.explain({"limit": 10})
    assert e["hits_order"] == score
    e = fixture_engine.explain({"q": "banana", "facet": "lang",
                                "limit": 0})
    assert e["hits_order"] is None and e["facet_passes"] == [["lang"]]
    assert e["full_match"] == []
    e = fixture_engine.explain({"q": "-banana", "limit": 10})
    assert e["hits_order"] == score
    # a key sort or function_score cuts every match unpruned
    e = fixture_engine.explain({"q": "banana", "sort": "doc_len:desc",
                                "limit": 5})
    assert e["hits_order"] == ["doc_len:desc", "doc_id:asc"]
    assert not e["pruning_eligible"]
    e = fixture_engine.explain({"q": "banana", "function_score": "true",
                                "limit": 5})
    assert e["hits_order"] == score and not e["pruning_eligible"]
    e = fixture_engine.explain({
        "q": "banana", "facet": ["lang", "repo", "doc_len"],
        "filter:lang": "txt", "facet_interval:doc_len": "100",
        "metric:sum": "doc_len", "limit": 0})
    assert e["facet_passes"] == [["lang"], ["repo"]]
    assert e["full_match"] == ["facet:doc_len", "metric:sum"]
    assert e["full_match_tasks"] == 1
    e = fixture_engine.explain({"q": '"banana crime"', "limit": 5})
    assert e["phrase_bigram_fast_path"] == [] or e["needs_positions"] \
        is False  # config-dependent: fixture index may lack bigrams


def test_hit_columns_same_on_every_branch(fixture_engine):
    """Every search shape returns its hits as (doc_id, score,
    …doc_meta), the gathered top-k's order, so rows compare by
    position: sort, facets, with_total, search_after and
    function_score (each a scatter pass in its own cut order),
    match-all, pure NOT and the facet partials."""
    gathered = fixture_engine.search({"q": "banana", "limit": 5})
    want = gathered.hits.columns
    assert want[:2] == ["doc_id", "score"]
    by_id = {r["doc_id"]: tuple(r) for r in gathered.hit_rows(0, 5)}
    q = {"q": "banana OR kwazulu", "limit": 10}
    first = fixture_engine.search(
        {**q, "sort": "path"}).hit_rows(0, 1)[0]
    cases = [
        ({**q, "sort": "doc_len"}, False, "doc_len:asc"),
        ({**q, "facet": "lang"}, False, "score:desc"),
        (q, True, None),  # explain() takes no with_total
        ({**q, "sort": "path", "search_after": [
            first["path"], str(first["doc_id"])]}, False, "path:asc"),
        ({**q, "function_score": "true"}, False, "score:desc"),
        ({"limit": 10}, False, "score:desc"),
        ({"q": "-banana", "limit": 10}, False, "score:desc"),
        ({"q": "banana", "facet": "lang", "limit": 0}, False, None),
    ]
    for args, with_total, order in cases:
        if order:
            assert fixture_engine.explain(args)["hits_order"][0] == order
        res = fixture_engine.search(args, with_total=with_total)
        assert res.hits.columns == want, args
    # the same rows, position for position (no function_score boost)
    full = fixture_engine.search({"q": "banana", "limit": 5},
                                 with_total=True)
    assert full.total == len(by_id)
    assert {r["doc_id"]: tuple(r) for r in full.hit_rows(0, 5)} == by_id


def test_limit_zero(fixture_engine):
    res = fixture_engine.search({"q": "banana", "limit": 0},
                                with_total=True)
    assert res.total == 2
    assert res.hits.count() == 0


def test_count(fixture_engine):
    assert fixture_engine.count({"q": "banana"}) == 2
    assert fixture_engine.count({"q": "banana", "filter:lang": "go"}) == 1
    assert fixture_engine.count({}) == len(FIXTURE_DOCS)


def test_sort_by_field(fixture_engine):
    res = fixture_engine.search(
        {"q": "banana OR kwazulu", "sort": "doc_len:desc", "limit": 10})
    lens = [r["doc_len"] for r in res.hit_rows(0, 10)]
    assert lens == sorted(lens, reverse=True)


def test_unknown_sort_or_facet_field_raises(fixture_engine, monkeypatch):
    """An unknown sort key or facet field raises ValueError naming the
    field before any read, a sort by a column no doc_meta row holds
    (``content``) included. ``score`` stays a sort key: ``sort=score``
    orders hits by (score asc, doc_id asc), ``sort=score:desc`` as a
    plain search does."""
    import pytest as _pytest
    from openaleph_search_spark.query.executor import SearchExecutor
    q = {"q": "banana OR kwazulu OR crime", "limit": 10}
    plain = fixture_engine.search(q).hit_rows(0, 10)
    assert len(plain) >= 3
    assert fixture_engine.search(
        {**q, "sort": "score:desc"}).hit_rows(0, 10) == plain
    assert fixture_engine.search({**q, "sort": "score"}).hit_rows(0, 10) \
        == sorted(plain, key=lambda r: (r["score"], r["doc_id"]))

    def no_read(*args, **kwargs):
        raise AssertionError("a search read before validating its fields")
    monkeypatch.setattr(SearchExecutor, "_scatter_exec", no_read)
    for args, field in [({"sort": "nosuch"}, "nosuch"),
                        ({"sort": "content"}, "content"),
                        ({"sort": ["path", "nosuch:desc"]}, "nosuch"),
                        ({"facet": "nosuch"}, "nosuch"),
                        ({"facet": ["lang", "nosuch"], "limit": 0},
                         "nosuch"),
                        ({"facet_significant:nosuch": "true"}, "nosuch")]:
        with _pytest.raises(ValueError, match=f"'{field}'"):
            fixture_engine.search({**q, **args})


def test_bm25_score_values_pinned(fixture_engine, oracle, ids_by_path):
    """Hard-pin one score: crime.go 'banana' tf=3."""
    d = ids_by_path["b/crime.go"]
    got = dict(engine_topk(fixture_engine, "banana"))
    idf = oracle.idf("banana")
    tfn = oracle.tfnorm(3, oracle.doc_len[d])
    assert abs(got[d] - idf * tfn) < TOL


def test_field_query_lang(fixture_engine, ids_by_path):
    """Lucene field:value syntax → field-prefixed dictionary terms."""
    res = fixture_engine.search({"q": "lang:go banana", "limit": 10})
    rows = res.hit_rows(0, 10)
    assert [r["doc_id"] for r in rows] == [ids_by_path["b/crime.go"]]


def test_field_query_path(fixture_engine, ids_by_path):
    res = fixture_engine.search({"q": "path:kwazulu", "limit": 10})
    assert [r["path"] for r in res.hit_rows(0, 10)] == ["a/kwazulu.txt"]


def test_unknown_field_matches_nothing(fixture_engine):
    assert fixture_engine.search({"q": "nosuchfield:banana",
                                  "limit": 5}).hits.count() == 0


def test_qfields_dismax(fixture_engine, ids_by_path):
    """multi-field best-fields: kwazulu appears in content of two docs
    and in the PATH of kwazulu.txt → path boost lifts it."""
    res = fixture_engine.search(
        {"q": "kwazulu", "qfields": "content,path^10", "limit": 10})
    rows = res.hit_rows(0, 10)
    assert rows[0]["path"] == "a/kwazulu.txt"
    assert len(rows) == 2  # still matches long.rs via content


def test_fielded_phrase(fixture_engine, ids_by_path):
    res = fixture_engine.search({"q": 'path:"a kwazulu txt"', "limit": 5})
    assert [r["path"] for r in res.hit_rows(0, 5)] == ["a/kwazulu.txt"]


def test_dash_negation_matches_not(fixture_engine, oracle):
    """Regression: 'foo -bar' must equal 'foo NOT bar' (the '-word'
    atom used to nest a pure-negative bool that matched nothing)."""
    got = engine_topk(fixture_engine, "banana -crime")
    want = engine_topk(fixture_engine, "banana NOT crime")
    assert got == want and len(got) == 1


def test_negated_phrase(fixture_engine):
    """Regression: -"foo bar" is a negated phrase, not NOT foo AND bar."""
    base = fixture_engine.search(
        {"q": "banana", "limit": 10}).hit_rows(0, 10)
    got = fixture_engine.search(
        {"q": 'banana -"banana crime"', "limit": 10}).hit_rows(0, 10)
    assert [r["path"] for r in got] == \
        [r["path"] for r in base if r["path"] != "b/crime.go"]
    # pure negative phrase excludes exactly the phrase's docs
    res = fixture_engine.search({"q": '-"banana crime"', "limit": 100},
                                with_total=True)
    assert res.total == len(FIXTURE_DOCS) - 1


def test_search_auth_model(spark, fixture_index):
    """SearchAuth semantics ported from the reference
    (tests/test_search_auth.py:31-60): admin bypass, empty dataset set
    -> match_none, mandatory injection, facet + explicit-filter
    interplay. Dataset field re-based to repo."""
    import pytest as _pytest
    from openaleph_search_spark.query.auth import SearchAuth
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index, require_auth=True)
    unauthenticated = SearchAuth()
    auth_public = SearchAuth(datasets={"r1"}, logged_in=True)
    auth_private = SearchAuth(datasets={"r1", "r2", "r3"}, logged_in=True)
    auth_admin = SearchAuth(is_admin=True, logged_in=True)

    n_r1 = len([d for d in FIXTURE_DOCS if d[0] == "r1"])
    n_all = len(FIXTURE_DOCS)

    # no auth object raises when auth is required
    with _pytest.raises(RuntimeError):
        eng.search({"limit": 10})
    with _pytest.raises(RuntimeError):
        eng.count({"q": "banana"})
    # unauthenticated sees nothing
    assert eng.search({"limit": 100}, with_total=True,
                      auth=unauthenticated).total == 0
    assert eng.count({"q": "banana"}, auth=unauthenticated) == 0
    # public / private / admin tiers
    assert eng.search({"limit": 100}, with_total=True,
                      auth=auth_public).total == n_r1
    assert eng.search({"limit": 100}, with_total=True,
                      auth=auth_private).total == n_all
    assert eng.search({"limit": 100}, with_total=True,
                      auth=auth_admin).total == n_all

    # q + facet: facet buckets honor the ACL
    res = eng.search({"q": "banana", "facet": "repo", "limit": 10},
                     auth=auth_public)
    assert {r["value"] for r in res.facets["repo"].collect()} == {"r1"}
    # banana also lives in r2 (crime.go) — public can't see it
    assert eng.count({"q": "banana"}, auth=auth_public) == 1
    assert eng.count({"q": "banana"}, auth=auth_private) == 2
    # explicit filter:repo can't bypass the ACL
    assert eng.count({"q": "banana", "filter:repo": "r2"},
                     auth=auth_public) == 0
    # scored hits path (limit without facets) honors it too
    hits = eng.search({"q": "banana", "limit": 10},
                      auth=auth_public).hit_rows(0, 10)
    assert {h["repo"] for h in hits} == {"r1"}


def test_anonymous_facet_caps(spark, fixture_index):
    """Reference parse/parser.py:219-241 anti-DDoS caps: an anonymous
    (not logged_in) session gets facet_size clamped to 50 and
    facet_total disabled on non-small facets; small facets (repo/lang)
    and logged-in sessions keep the requested values."""
    from openaleph_search_spark.query.auth import SearchAuth
    from openaleph_search_spark.query.engine import (Engine, _facet_size,
                                                     _facet_total_on)
    from openaleph_search_spark.query.parser import parse_args
    anon = SearchAuth(datasets={"r1", "r2", "r3"}, logged_in=False)
    user = SearchAuth(datasets={"r1", "r2", "r3"}, logged_in=True)
    sa = parse_args({"q": "banana", "facet": "path",
                     "facet_size:path": "5000",
                     "facet_total:path": "true", "limit": 0})
    assert _facet_size(sa, anon, "path") == 50
    assert _facet_size(sa, user, "path") == 5000
    assert _facet_size(sa, None, "path") == 5000  # auth-less deploys
    assert not _facet_total_on(sa, anon, "path")
    assert _facet_total_on(sa, user, "path")
    sa2 = parse_args({"facet": "repo", "facet_size:repo": "5000",
                      "facet_total:repo": "true", "limit": 0})
    assert _facet_size(sa2, anon, "repo") == 5000  # SMALL_FACETS exempt
    assert _facet_total_on(sa2, anon, "repo")
    # end-to-end: anonymous facet_total request returns no total branch
    eng = Engine(spark, fixture_index)
    res = eng.search({"q": "banana", "facet": "path",
                      "facet_total:path": "true", "limit": 0}, auth=anon)
    assert "path" in res.facets and "path" not in res.facet_totals
    res2 = eng.search({"q": "banana", "facet": "path",
                       "facet_total:path": "true", "limit": 0}, auth=user)
    assert "path" in res2.facet_totals


def test_msearch_batches_match_individual(fixture_engine):
    """msearch: one grouped-map pass; per-query hits identical to
    individual search() calls, a match-all's (the first k docs in _doc
    order, score 0.0) included."""
    queries = {"qa": {"q": "banana"}, "qb": {"q": "kwazulu natal"},
               "qc": {"q": '"banana crime"'}, "qd": {"q": "zzznothing"},
               "qe": {}}
    out = fixture_engine.msearch(queries, k=5).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], round(r["score"], 9)))
    for qid, args in queries.items():
        want = [(r["doc_id"], round(r["score"], 9)) for r in
                fixture_engine.search({**args, "limit": 5}).hit_rows(0, 5)]
        assert sorted(got.get(qid, [])) == sorted(want), qid
    assert len(got["qe"]) == 5 and {s for _, s in got["qe"]} == {0.0}
    # unsupported combos are rejected, not silently wrong
    import pytest as _pytest
    with _pytest.raises(ValueError):
        fixture_engine.msearch({"x": {"q": "a", "filter:lang": "go"}})


def test_msearch_respects_auth(spark, fixture_index):
    from openaleph_search_spark.query.auth import SearchAuth
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index)
    out = eng.msearch({"qa": {"q": "banana"}}, k=5,
                      auth=SearchAuth(datasets={"r1"}, logged_in=True))
    rows = out.collect()
    assert rows and all(r["repo"] == "r1" for r in rows)


def test_wildcard_infix_and_gating(spark, fixture_index):
    """Q1 wildcards: infix/? patterns expand against the dictionary;
    leading wildcards are gated (reference settings.py:139)."""
    from openaleph_search_spark.query.engine import Engine
    import pytest as _pytest
    eng = Engine(spark, fixture_index)
    # b?nana -> banana (2 docs)
    rows = eng.search({"q": "b?nana", "limit": 10}).hit_rows(0, 10)
    assert {r["path"] for r in rows} == {"a/banana.txt", "b/crime.go"}
    # infix c*me -> crime
    rows = eng.search({"q": "c*me", "limit": 10}).hit_rows(0, 10)
    assert {r["path"] for r in rows} == {"a/jane.py", "b/crime.go"}
    # scores identical to the plain-term query (same expansion set)
    plain = eng.search({"q": "crime", "limit": 10}).hit_rows(0, 10)
    assert {(r["doc_id"], round(r["score"], 9)) for r in rows} \
        == {(r["doc_id"], round(r["score"], 9)) for r in plain}
    with _pytest.raises(ValueError, match="leading wildcard"):
        eng.search({"q": "*rime", "limit": 10})
    eng2 = Engine(spark, fixture_index, allow_leading_wildcard=True)
    rows = eng2.search({"q": "*rime", "limit": 10}).hit_rows(0, 10)
    assert {r["path"] for r in rows} == {"a/jane.py", "b/crime.go"}


def test_unfielded_expansion_skips_fielded_terms(spark, fixture_index):
    """'pa*' / 'pa*h' must expand CONTENT terms only — never the
    'path\\x1f...' field-prefixed or '_bi\\x1f...' bigram dictionary
    entries."""
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index)
    for q in ("pa*", "pa*l", "_b*", "_*i*"):
        for exp in eng.explain({"q": q})["expansions"].values():
            assert all("\x1f" not in t for t in exp), (q, exp)


def test_qfields_fan_out_all_clause_types(spark, fixture_index):
    """Q2: multi-field query_string fans phrases/prefixes/wildcards
    across qfields too (ES semantics), not just bare terms."""
    from openaleph_search_spark.query.engine import Engine
    eng = Engine(spark, fixture_index)
    # prefix matching in the PATH field only (content has no 'js' token)
    rows = eng.search({"q": "js*", "qfields": "content,path^2",
                       "limit": 10}).hit_rows(0, 10)
    assert {r["path"] for r in rows} == {"b/manafort.js"}
    # phrase across fields still matches via content
    rows = eng.search({"q": '"banana crime"',
                       "qfields": "content,path^2",
                       "limit": 10}).hit_rows(0, 10)
    assert {r["path"] for r in rows} == {"b/crime.go"}
    # wildcard via path only
    rows = eng.search({"q": "kwa?ulu", "qfields": "content,path^2",
                       "limit": 10}).hit_rows(0, 10)
    assert "a/kwazulu.txt" in {r["path"] for r in rows}

def test_engine_stats(fixture_engine):
    s = fixture_engine.stats()
    assert s["n_docs"] == 10 and s["tombstoned_docs"] == 0
    assert s["num_shards"] == 2 and len(s["shards"]) <= 2
    assert s["n_terms"] > 50
    assert 0 < s["postings_balance"] <= 1.0
