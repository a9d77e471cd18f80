"""Property-based correctness: the per-shard evaluator (block-max
pruning, bool algebra, min_should, phrases) against the pure-Python
oracle on randomized corpora and query trees — no Spark in the loop,
so hypothesis can run hundreds of cases."""
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from openaleph_search_spark.analysis.analyzer import analyze_text
from openaleph_search_spark.index.codec import bm25_idf, encode_blocks
from openaleph_search_spark.index.codec import encode_positions
from openaleph_search_spark.query.executor import _ShardEval
from openaleph_search_spark.query.ir import (Bool, PhraseLeaf, PrefixLeaf,
                                             TermLeaf, WildcardLeaf)
from tests.oracle import OracleIndex

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=30),
    min_size=1, max_size=40)


def build_shard(docs_tokens: list[list[str]], block_size: int = 4):
    """→ (blocks_by_term, idf, avgdl, oracle). Tiny block size stresses
    the block-boundary paths."""
    docs = {i: " ".join(toks) for i, toks in enumerate(docs_tokens)}
    oracle = OracleIndex(docs)
    blocks_by_term = {}
    for term, postings in oracle.postings.items():
        ids = np.array(sorted(postings), dtype=np.uint64)
        tfs = np.array([postings[int(d)] for d in ids], dtype=np.uint64)
        dls = np.array([oracle.doc_len[int(d)] for d in ids],
                       dtype=np.uint64)
        pos_payloads = [
            encode_positions([np.array(
                sorted(oracle.positions[term][int(d)]), dtype=np.uint64)])
            for d in ids]
        rows = encode_blocks(ids, tfs, dls, avgdl=oracle.avgdl,
                             pos_payloads=pos_payloads,
                             block_size=block_size)
        for r in rows:
            r["term"] = term
        blocks_by_term[term] = pd.DataFrame(rows)
    idf = {t: float(bm25_idf(float(len(p)), oracle.n_docs))
           for t, p in oracle.postings.items()}
    return blocks_by_term, idf, oracle


def make_eval(blocks, idf, oracle, k):
    return _ShardEval(blocks, idf, k, None, 1.2, 0.75,
                      {"content": oracle.avgdl})


def check(got_ids, got_scores, want: dict, k=None):
    want_sorted = sorted(want.items(), key=lambda x: (-x[1], x[0]))
    got = sorted(zip(got_ids.tolist(), got_scores.tolist()),
                 key=lambda x: (-x[1], x[0]))
    if k is not None:
        # per-shard top-k: engine may return ≥k; compare the top-k by
        # (score, id) — ties beyond the cut are allowed to differ
        got = got[:k]
        want_sorted = want_sorted[:k]
    assert len(got) == len(want_sorted), (got, want_sorted)
    for (gd, gs), (wd, ws) in zip(got, want_sorted):
        assert abs(gs - ws) < 1e-9, (got, want_sorted)


@given(docs_strategy,
       st.lists(st.sampled_from(VOCAB), min_size=1, max_size=4),
       st.sampled_from(["and", "or"]))
@settings(max_examples=120, deadline=None)
def test_bool_queries_match_oracle(docs_tokens, terms, mode):
    blocks, idf, oracle = build_shard(docs_tokens)
    ev = make_eval(blocks, idf, oracle, k=None)
    if mode == "and":
        tree = Bool(must=[TermLeaf(t) for t in terms]) \
            if len(terms) > 1 else TermLeaf(terms[0])
        want = oracle.and_query(list(dict.fromkeys(terms)))
        # engine sums duplicate leaves; oracle dedups — align by dedup
        tree = Bool(must=[TermLeaf(t)
                          for t in dict.fromkeys(terms)]) \
            if len(set(terms)) > 1 else TermLeaf(terms[0])
    else:
        tree = Bool(should=[TermLeaf(t) for t in dict.fromkeys(terms)])
        want = oracle.or_query(list(dict.fromkeys(terms)))
    ids, scores = ev.eval(tree)
    check(ids, scores, want)


@given(docs_strategy,
       st.lists(st.sampled_from(VOCAB), min_size=2, max_size=5,
                unique=True),
       st.integers(min_value=1, max_value=6))
@settings(max_examples=80, deadline=None)
def test_topk_pruning_matches_oracle(docs_tokens, terms, k):
    """MaxScore pruning must never change the top-k (score, id) set."""
    blocks, idf, oracle = build_shard(docs_tokens)
    ev = make_eval(blocks, idf, oracle, k=k)
    tree = Bool(should=[TermLeaf(t) for t in terms])
    ids, scores = ev.eval(tree)
    want = oracle.or_query(terms)
    check(ids, scores, want, k=k)


@given(docs_strategy,
       st.lists(st.sampled_from(VOCAB), min_size=2, max_size=5,
                unique=True),
       st.integers(min_value=1, max_value=6),
       st.sampled_from([0.0, 0.25, 0.4, 1.0]))
@settings(max_examples=60, deadline=None)
def test_topk_pruning_per_field_b(docs_tokens, terms, k, bval):
    """Per-field BM25 b override (weak_length_norm): block-max bounds
    attached with the overridden b must keep pruning sound — the pruned
    top-k must equal the unpruned evaluation's top-k."""
    from openaleph_search_spark.query.executor import SearchExecutor
    blocks, idf, oracle = build_shard(docs_tokens)
    ctx = {"k1": 1.2, "b": 0.75,
           "avgdl_by_field": {"content": oracle.avgdl},
           "b_by_field": {"content": bval}}
    blocks = {t: SearchExecutor._attach_bounds(pdf, ctx)
              for t, pdf in blocks.items()}
    tree = Bool(should=[TermLeaf(t) for t in terms])
    args = (idf, None, None, 1.2, 0.75, {"content": oracle.avgdl})
    full = _ShardEval(blocks, *args, b_by_field={"content": bval})
    ids_f, sc_f = full.eval(tree, root=True)
    pruned = _ShardEval(blocks, idf, k, None, 1.2, 0.75,
                        {"content": oracle.avgdl},
                        b_by_field={"content": bval})
    ids_p, sc_p = pruned.eval(tree, root=True)
    want = dict(zip(ids_f.tolist(), sc_f.tolist()))
    check(ids_p, sc_p, want, k=k)


@given(st.lists(st.lists(st.sampled_from(VOCAB[:4]),
                          min_size=0, max_size=25),
                min_size=1, max_size=12),
       st.integers(min_value=2, max_value=6))
@settings(max_examples=120, deadline=None)
def test_repetition_kernel_matches_oracle(docs_tokens, dup_n):
    """The repetition kernel's vectorized segment logic (factorize +
    stepwise pair-refactorize + lexsort + reduceat) vs a Counter
    oracle — exercises row boundaries, empty docs, and heavy
    repetition (a 4-token vocabulary makes collisions the common
    case). No Spark in the loop."""
    from collections import Counter
    from openaleph_search_spark.ops.textstats import repetition_kernel

    def oracle(tokens, n):
        if len(tokens) < n:
            return 0.0, 0.0
        grams = [tuple(tokens[i:i + n]) for i in
                 range(len(tokens) - n + 1)]
        c = Counter(grams)
        top = min(max(c.values()) * n / len(tokens), 1.0)
        dup = sum(v for v in c.values() if v > 1) / len(grams)
        return top, dup

    texts = pd.Series([" ".join(t) for t in docs_tokens])
    got = repetition_kernel(texts, dup_n)
    for i, _ in enumerate(docs_tokens):
        # mirror the kernel's split(" ") view (empty text → [""])
        toks = texts.iloc[i].split(" ")
        assert abs(got["top2"][i] - oracle(toks, 2)[0]) < 1e-12
        assert abs(got["top3"][i] - oracle(toks, 3)[0]) < 1e-12
        assert abs(got["dupn"][i] - oracle(toks, dup_n)[1]) < 1e-12


@given(docs_strategy,
       st.lists(st.sampled_from(VOCAB), min_size=2, max_size=3,
                unique=True),
       st.integers(min_value=0, max_value=3))
@settings(max_examples=80, deadline=None)
def test_phrases_match_oracle(docs_tokens, terms, slop):
    blocks, idf, oracle = build_shard(docs_tokens)
    ev = make_eval(blocks, idf, oracle, k=None)
    ids, scores = ev.eval(PhraseLeaf(terms, slop=slop))
    want = oracle.phrase_query(terms, slop=slop)
    check(ids, scores, want)


@given(docs_strategy,
       st.lists(st.sampled_from(VOCAB), min_size=2, max_size=5,
                unique=True),
       st.integers(min_value=1, max_value=4))
@settings(max_examples=60, deadline=None)
def test_min_should_match_oracle(docs_tokens, terms, m):
    blocks, idf, oracle = build_shard(docs_tokens)
    ev = make_eval(blocks, idf, oracle, k=None)
    tree = Bool(should=[TermLeaf(t) for t in terms], min_should=m)
    ids, scores = ev.eval(tree)
    per_term = [oracle.term_scores(t) for t in terms]
    want = {}
    for d in set().union(*[set(p) for p in per_term]):
        hits = [p[d] for p in per_term if d in p]
        if len(hits) >= m:
            want[d] = sum(hits)
    check(ids, scores, want)


@given(docs_strategy,
       st.sampled_from(VOCAB), st.sampled_from(VOCAB))
@settings(max_examples=60, deadline=None)
def test_not_matches_oracle(docs_tokens, pos_t, neg_t):
    blocks, idf, oracle = build_shard(docs_tokens)
    ev = make_eval(blocks, idf, oracle, k=None)
    tree = Bool(must=[TermLeaf(pos_t)], must_not=[TermLeaf(neg_t)])
    ids, scores = ev.eval(tree)
    want = oracle.not_filter(oracle.or_query([pos_t]), [neg_t])
    check(ids, scores, want)


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_parser_never_crashes(q):
    from openaleph_search_spark.query.parser import parse_query_string
    parse_query_string(q)  # lenient: must not raise on any input


def test_parser_boost_goldens():
    """Lucene ^boost syntax on terms, phrases, prefixes and
    multi-term-analysis conjunctions."""
    from openaleph_search_spark.query.ir import PhraseLeaf, PrefixLeaf
    from openaleph_search_spark.query.parser import parse_query_string
    assert parse_query_string("alpha^2") == TermLeaf("alpha", boost=2.0)
    assert parse_query_string('"big table"^1.5') == PhraseLeaf(
        ["big", "table"], slop=0, boost=1.5)
    p = parse_query_string("sca*^2")
    assert isinstance(p, PrefixLeaf) and p.boost == 2.0
    assert parse_query_string("alpha beta^2") == Bool(
        must=[TermLeaf("alpha"), TermLeaf("beta", boost=2.0)])
    t = parse_query_string('"vector stream"~2^3')
    assert t == PhraseLeaf(["vector", "stream"], slop=2, boost=3.0)


# ---------------------------------------------------------------------------
# arbitrary-tree fuzzing: recursive reference evaluator over dicts
# ---------------------------------------------------------------------------

from openaleph_search_spark.query.ir import DisMax  # noqa: E402


def oracle_eval(node, oracle: OracleIndex) -> dict:
    """Reference semantics of the IR, in plain dicts."""
    if isinstance(node, TermLeaf):
        return {d: s * node.boost
                for d, s in oracle.term_scores(node.term).items()}
    if isinstance(node, (PrefixLeaf, WildcardLeaf)):
        out: dict = {}
        for t in (node.expanded or []):
            for d, s in oracle.term_scores(t).items():
                out[d] = out.get(d, 0.0) + s
        return {d: s * node.boost for d, s in out.items()}
    if isinstance(node, PhraseLeaf):
        return {d: s * node.boost
                for d, s in oracle.phrase_query(node.terms,
                                                node.slop).items()}
    if isinstance(node, DisMax):
        out = {}
        for c in node.children:
            for d, s in oracle_eval(c, oracle).items():
                out[d] = max(out.get(d, float("-inf")), s)
        return out
    if isinstance(node, Bool):
        res = None
        if node.must:
            for c in node.must:
                m = oracle_eval(c, oracle)
                if res is None:
                    res = dict(m)
                else:
                    res = {d: res[d] + m[d] for d in res.keys() & m.keys()}
        if node.should:
            per_child = [oracle_eval(c, oracle) for c in node.should]
            if res is None:
                min_m = node.min_should or 1
                out = {}
                for d in set().union(*[set(p) for p in per_child]):
                    hits = [p[d] for p in per_child if d in p]
                    if len(hits) >= min_m:
                        out[d] = sum(hits)
                res = out
            else:
                for d in list(res):
                    res[d] += sum(p[d] for p in per_child if d in p)
        if res is None:
            res = {}
        for c in node.must_not:
            banned = oracle_eval(c, oracle)
            res = {d: s for d, s in res.items() if d not in banned}
        return res
    raise TypeError(type(node))


def _leaf():
    return st.one_of(
        st.builds(TermLeaf, st.sampled_from(VOCAB),
                  st.sampled_from([1.0, 2.0, 0.5])),
        st.builds(PhraseLeaf,
                  st.lists(st.sampled_from(VOCAB), min_size=2,
                           max_size=3, unique=True),
                  st.integers(min_value=0, max_value=2)),
        # expanded prefix/wildcard leaves: eval sums the expansion set
        # (pre-filled, as the planner would); boost-aware bounds must
        # stay sound over them too
        st.builds(
            lambda kind, exp, b: kind(
                "pre", boost=b, expanded=sorted(exp)),
            st.sampled_from([PrefixLeaf,
                             lambda p, boost, expanded: WildcardLeaf(
                                 p + "*x", boost=boost,
                                 expanded=expanded)]),
            st.lists(st.sampled_from(VOCAB), min_size=0, max_size=3,
                     unique=True),
            st.sampled_from([1.0, 2.0, 0.5])))


def _tree(depth: int):
    if depth == 0:
        return _leaf()
    sub = _tree(depth - 1)
    return st.one_of(
        _leaf(),
        st.builds(DisMax, st.lists(sub, min_size=1, max_size=3)),
        st.builds(
            Bool,
            st.lists(sub, min_size=0, max_size=2),      # must
            st.lists(sub, min_size=0, max_size=3),      # should
            st.lists(_leaf(), min_size=0, max_size=1),  # must_not
            st.one_of(st.none(), st.integers(1, 2)),    # min_should
        ))


@given(docs_strategy, _tree(2),
       st.one_of(st.none(), st.integers(min_value=1, max_value=5)))
@settings(max_examples=200, deadline=None)
@example(
    docs_tokens=[['alpha'], ['alpha'], ['beta', 'gamma'], ['beta', 'gamma']],
    tree=Bool(must=[],
     should=[TermLeaf(term='alpha', boost=1.0, field=None),
      TermLeaf(term='beta', boost=2.0, field=None)],
     must_not=[],
     min_should=None),
    k=1,
).via('discovered failure')
@example(
    docs_tokens=[['alpha'], ['beta', 'gamma']],
    tree=Bool(must=[],
     should=[Bool(must=[],
       should=[TermLeaf(term='alpha', boost=1.0, field=None),
        TermLeaf(term='beta', boost=1.0, field=None)],
       must_not=[],
       min_should=None)],
     must_not=[TermLeaf(term='alpha', boost=1.0, field=None)],
     min_should=None),
    k=1,
).via('discovered failure')
def test_arbitrary_trees_match_oracle(docs_tokens, tree, k):
    # skip degenerate: nothing positive to score
    if isinstance(tree, Bool) and not tree.must and not tree.should:
        return
    blocks, idf, oracle = build_shard(docs_tokens)
    ev = make_eval(blocks, idf, oracle, k=k)
    ids, scores = ev.eval(tree)
    want = oracle_eval(tree, oracle)
    check(ids, scores, want, k=k)


# --------------------------------------------------------------------------
# percolation: vectorized batch path vs the per-doc reference path
# --------------------------------------------------------------------------

_vocab = st.sampled_from(
    ["alpha", "bravo", "charlie", "delta", "echoecho", "foxtrot"])
_doc_toks = st.lists(_vocab, min_size=0, max_size=14)
_clause = st.lists(_vocab, min_size=1, max_size=3)


@settings(max_examples=60, deadline=None)
@given(docs=st.lists(_doc_toks, min_size=1, max_size=8),
       clauses=st.lists(_clause, min_size=1, max_size=6),
       slop=st.integers(min_value=0, max_value=3))
def test_percolate_batch_matches_per_doc_reference(docs, clauses, slop):
    """The production mapInArrow emitter (term lookup + searchsorted
    chains + segment reduce) must agree exactly with percolate_text's
    per-doc _phrase_hits evaluation on every (doc, entity, score,
    matched_names)."""
    import pyarrow as pa
    from openaleph_search_spark.query.percolate import (
        StoredQuery, _percolate_batch_arrow_fn, percolate_text)
    stored = [StoredQuery(f"e{i}", [(toks, 2.0 if i % 2 == 0 else 0.8)])
              for i, toks in enumerate(clauses)]
    # merge multi-clause entities too: attach every third clause to e0
    if len(clauses) >= 3:
        stored[0] = StoredQuery("e0", [(clauses[0], 2.0),
                                       (clauses[2], 0.8)])
        del stored[2]
    pdf = pd.DataFrame({"doc_id": range(len(docs)),
                        "content": [" ".join(d) for d in docs]})
    fn = _percolate_batch_arrow_fn(stored, ["doc_id"], "content", slop)
    got = set()
    for out in fn(iter([pa.RecordBatch.from_pandas(pdf)])):
        for r in out.to_pylist():
            got.add((r["doc_id"], r["entity_id"], round(r["score"], 9),
                     tuple(r["matched_names"])))
    want = set()
    for i, text in enumerate(pdf["content"]):
        for hit in percolate_text(text, stored, slop=slop):
            want.add((i, hit["entity_id"], round(hit["score"], 9),
                      tuple(hit["matched_names"])))
    assert got == want


# --------------------------------------------------------------------------
# work-sized dispatch: grouping of work units (source parts) into tasks
# --------------------------------------------------------------------------

@given(parts=st.lists(st.integers(0, 1 << 20), min_size=1, max_size=80,
                      unique=True),
       par=st.integers(1, 256),
       ests=st.lists(st.integers(0, 300), min_size=2, max_size=2),
       frac=st.integers(0, 3),
       bounded=st.booleans())
@settings(max_examples=300, deadline=None)
def test_scatter_groups_partition_parts(parts, par, ests, frac, bounded):
    """ops.util.plan_tasks, sized as the scatter sizes its parts: every
    part lands in exactly one non-empty group, the group count stays
    within [1, min(parts, par)] and never drops as the query's
    est_postings grows, and the task count is 0 (driver) exactly when
    there is one group, the work fits one task and the output is
    bounded; else one task per group. No parts → nothing runs."""
    from types import SimpleNamespace

    from openaleph_search_spark.ops.util import plan_tasks
    from openaleph_search_spark.query.executor import _POSTINGS_PER_TASK
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=par))
    # whole multiples of the per-task postings, ± a remainder around
    # the boundaries where the task count steps
    lo, hi = sorted(max(0, e * _POSTINGS_PER_TASK + frac - 1)
                    for e in ests)
    counts = []
    for est in (lo, hi):
        groups, tasks = plan_tasks(spark, parts, est,
                                   _POSTINGS_PER_TASK, bounded)
        assert sorted(p for g in groups for p in g) == sorted(parts)
        assert all(groups)
        assert 1 <= len(groups) <= min(len(parts), par)
        driver = (len(groups) == 1 and est <= _POSTINGS_PER_TASK
                  and bounded)
        assert tasks == (0 if driver else len(groups))
        counts.append(len(groups))
    assert counts[0] <= counts[1]
    assert plan_tasks(spark, [], hi, _POSTINGS_PER_TASK,
                      bounded) == ([], 0)



# --------------------------------------------------------------------------
# compaction block kernel: drop dead docs from packed blocks
# --------------------------------------------------------------------------

@st.composite
def _blocks_and_dead(draw):
    """Block rows of 1-3 posting lists (a part's touched blocks span
    terms), a dead-id set (members and strangers) and the positions
    flag. Ids near 2^62 make the kernel's running sum wrap in uint64."""
    base = draw(st.sampled_from([0, 5 << 33, 1 << 62]))
    with_positions = draw(st.booleans())
    rows, ids_all = [], []
    for _ in range(draw(st.integers(1, 3))):
        n = draw(st.integers(1, 40))
        gaps = draw(st.lists(st.integers(1, 300), min_size=n, max_size=n))
        ids = base + np.cumsum(np.asarray(gaps, dtype=np.int64))
        tfs = draw(st.lists(st.integers(1, 5), min_size=n, max_size=n))
        dls = draw(st.lists(st.integers(1, 5000), min_size=n,
                            max_size=n))
        pos = [np.sort(np.asarray(draw(st.lists(
            st.integers(0, 400), min_size=tf, max_size=tf,
            unique=True)), dtype=np.uint64)) for tf in tfs]
        rows += encode_blocks(
            ids.astype(np.uint64), np.asarray(tfs, dtype=np.uint64),
            np.asarray(dls, dtype=np.uint64), None,
            positions=pos if with_positions else None,
            block_size=draw(st.integers(1, 9)))
        ids_all += ids.tolist()
    dead = set(draw(st.lists(st.sampled_from(ids_all), max_size=60)))
    dead |= {base + g for g in draw(st.lists(st.integers(0, 13000),
                                             max_size=5))}
    return rows, np.unique(np.asarray(sorted(dead), dtype=np.int64)), \
        with_positions


@given(_blocks_and_dead())
@settings(max_examples=200, deadline=None)
def test_drop_docs_kernel_matches_per_block_reference(case):
    """The vectorized compaction kernel equals, block by block, decode
    → drop the dead docs → re-encode, and drops emptied blocks."""
    from openaleph_search_spark.index.codec import (
        decode_block, decode_positions, drop_docs)
    rows, dead, with_positions = case
    kept, cols = drop_docs(
        *([r[c] for r in rows] for c in ("docs_payload", "tfs_payload",
                                          "dls_payload", "pos_payload")),
        np.asarray([r["doc_count"] for r in rows]), dead, with_positions)
    want = []
    for i, r in enumerate(rows):
        d, t, l = decode_block(r)
        keep = ~np.isin(d.astype(np.int64), dead)
        if not keep.any():
            continue
        pp = ([encode_positions([p]) for p, k in zip(
            np.split(decode_positions(r["pos_payload"], t),
                     np.cumsum(t.astype(np.int64))[:-1]), keep) if k]
            if with_positions else None)
        (blk,) = encode_blocks(d[keep], t[keep], l[keep], None,
                               pos_payloads=pp, block_size=1 << 20)
        want.append((i, blk))
    assert kept.tolist() == [i for i, _ in want]
    for j, (_, blk) in enumerate(want):
        for c in ("first_doc", "last_doc", "doc_count", "sum_tf",
                  "max_tf", "min_dl"):
            assert int(cols[c][j]) == blk[c], c
        for c in ("docs_payload", "tfs_payload", "dls_payload",
                  "pos_payload"):
            assert bytes(cols[c][j]) == blk[c], c


_arg_keys = st.sampled_from([
    "q", "prefix", "offset", "limit", "facet", "sort", "filter:lang",
    "filter:gte:doc_len", "filter:lte:created", "exclude:repo",
    "empty:lang", "facet_size:lang", "facet_total:lang",
    "facet_interval:created", "facet_significant:lang", "metric:avg",
    "qfields", "synonyms", "dehydrate", "include_fields",
    "function_score", "highlight", "highlight_count",
    "highlight_length", "highlight_query", "search_after"])
_arg_vals = st.one_of(
    st.text(max_size=12),
    st.integers(min_value=-5, max_value=10_500).map(str),
    st.sampled_from(["true", "false", "lang:desc", "content,path^2",
                     "2020-08", "month"]))


@given(st.dictionaries(_arg_keys, st.lists(_arg_vals, min_size=1,
                                           max_size=3), max_size=8))
@settings(max_examples=300, deadline=None)
def test_parse_args_never_crashes(args):
    """The URL-arg dialect is lenient like the reference's HTTP layer:
    numeric fields may raise ValueError on junk (a 400 upstream), but
    nothing else may escape, and the paging ceiling always holds."""
    from openaleph_search_spark.query.parser import parse_args
    try:
        sa = parse_args(args)
    except ValueError:
        return  # non-numeric offset/limit/count: a 400, not a crash
    assert sa.offset + sa.limit <= 9999
    assert sa.limit >= 0 and sa.offset >= 0


@given(st.lists(st.lists(st.sampled_from(VOCAB[:5]),
                          min_size=0, max_size=20),
                min_size=1, max_size=10),
       st.integers(min_value=2, max_value=6))
@settings(max_examples=100, deadline=None)
def test_window_hash_kernel_matches_oracle(docs_tokens, window):
    """duplicate_spans' rolling window-hash kernel vs a naive tuple
    oracle: exactly one (doc_id, pos) row per in-doc window, and the
    polynomial hash is equal iff the token tuple is equal (on a
    5-token vocabulary duplicate windows are the common case, so the
    iff check is exercised in both directions). No Spark in the
    loop."""
    import re
    from openaleph_search_spark.ops.dedup import _window_hash_batches

    texts = [" ".join(t) for t in docs_tokens]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                        "_text": texts})
    out = list(_window_hash_batches(window, "doc_id", "_text")([pdf]))
    got = (pd.concat(out) if out else
           pd.DataFrame({"doc_id": [], "pos": [], "wh": []}))

    want = {}  # (doc_id, pos) -> token tuple
    for did, text in enumerate(texts):
        toks = [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]
        for p in range(len(toks) - window + 1):
            want[(did, p)] = tuple(toks[p:p + window])

    keys = list(zip(got["doc_id"].tolist(), got["pos"].tolist()))
    assert sorted(keys) == sorted(want)
    by_hash = {}
    for (did, p), wh in zip(keys, got["wh"].tolist()):
        by_hash.setdefault(wh, set()).add(want[(did, p)])
    # equal hash -> equal tuple (no collision on the sample) ...
    assert all(len(v) == 1 for v in by_hash.values())
    # ... and equal tuple -> equal hash (determinism across docs)
    tup_hash = {}
    for wh, tups in by_hash.items():
        t = next(iter(tups))
        assert tup_hash.setdefault(t, wh) == wh


@given(st.lists(
    st.tuples(st.lists(st.sampled_from(VOCAB[:6]),
                       min_size=0, max_size=15),
              st.lists(st.tuples(st.integers(-2, 16),
                                 st.integers(-2, 18)),
                       min_size=0, max_size=4)),
    min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_cut_spans_kernel_matches_oracle(docs):
    """cut_spans' delta-array mask vs a per-doc boolean-mask oracle —
    exercises empty docs, out-of-range / empty / overlapping ranges
    (duplicate_spans never emits overlaps, but the kernel must not
    corrupt neighbours if a caller passes them)."""
    from openaleph_search_spark.ops.dedup import cut_spans_kernel

    pdf = pd.DataFrame({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "_text": [" ".join(toks) for toks, _ in docs],
        "_rg": [[{"s": s, "e": e} for s, e in sorted(rgs)] or None
                for _, rgs in docs]})
    got = cut_spans_kernel(pdf)
    for i, (toks, rgs) in enumerate(docs):
        mask = [True] * len(toks)
        for s, e in rgs:
            for p in range(max(s, 0), min(e, len(toks))):
                mask[p] = False
        kept = [t for t, m in zip(toks, mask) if m]
        assert got["text_deduped"][i] == " ".join(kept)
        assert got["n_tokens"][i] == len(toks)
        assert got["n_tokens_removed"][i] == len(toks) - len(kept)


@given(st.lists(st.tuples(st.text(alphabet="abcde_01", min_size=1,
                                  max_size=8),
                          st.integers(1, 50)),
                min_size=1, max_size=20),
       st.integers(0, 30),
       st.lists(st.text(alphabet="abcde_01", min_size=1, max_size=10),
                min_size=1, max_size=10))
@settings(max_examples=60, deadline=None)
def test_bpe_roundtrip_property(vocab, n_merges, words):
    """For ANY vocab and merge budget, encoding any word (in- or
    out-of-vocab) is lossless and pieces are non-empty."""
    from openaleph_search_spark.ops.bpe import (EOW, encode_word,
                                                learn_bpe)
    merges = learn_bpe(vocab, num_merges=n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in words:
        pieces = encode_word(w, ranks)
        assert pieces and all(pieces)
        joined = "".join(pieces)
        assert joined == w + EOW


# --------------------------------------------------------------------------
# doc_meta filters: the scatter mask vs the Spark predicate of one spec
# --------------------------------------------------------------------------

_BIG = 2 ** 53
_META_POOLS = {  # column → literals a filter may name
    "s": ["a", "b", "zz"],
    "i": ["-2", "0", "1", "7"],
    "b": [str(_BIG), str(_BIG + 1), str(-(2 ** 60)), "3"],
    "d": ["-0.0", "2.5", "-1.5", "NaN", "Infinity"],
    "dt": ["2020-02-29", "2020-03-01", "2020", "2020-02", "2019-12-31"],
    "ts": ["2020-03-01 00:00:00", "2020-03-01T08:00:00", "2020-03-01",
           "2020-02", "2020", "2020-03-01 07:59:59.999999"],
    "wall": ["2020-03-01 00:00:00", "2020-03-01", "2020-02"],
}


@pytest.fixture(scope="module")
def meta_index(spark, tmp_path_factory):
    """An index whose doc_meta has string, int, bigint above 2^53,
    double (with NaN and infinities), date, timestamp and timestamp_ntz
    columns, with nulls in each."""
    import datetime as dt
    from openaleph_search_spark.index.build import build_index
    rng = np.random.RandomState(11)
    utc = dt.timezone.utc
    t0 = dt.datetime(2020, 3, 1, tzinfo=utc)

    def pick(vals):
        return None if rng.rand() < 0.2 else vals[rng.randint(len(vals))]
    rows = [(f"r{n % 3}", f"p{n}", "c", "txt", "alpha beta",
             pick(["a", "b", "c", "zz"]), pick([-2, 0, 1, 5, 7]),
             pick([_BIG, _BIG + 1, _BIG + 2, -(2 ** 60), 3]),
             pick([-0.0, 0.0, 2.5, -1.5, float("nan"), float("inf")]),
             pick([dt.date(2020, 2, 29), dt.date(2020, 3, 1),
                   dt.date(2019, 12, 31), dt.date(2021, 1, 1)]),
             pick([t0 + dt.timedelta(hours=h)
                   for h in (-9, -8, -1, 0, 7.99999, 8, 30)]),
             pick([t0.replace(tzinfo=None) + dt.timedelta(hours=h)
                   for h in (-1, 0, 5)]))
            for n in range(48)]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, s string, i int, b bigint, d double, "
              "dt date, ts timestamp, wall timestamp_ntz")
    out = str(tmp_path_factory.mktemp("idx_meta"))
    build_index(spark, docs, out, num_partitions=3, num_shards=2,
                meta_cols=list(_META_POOLS))
    return out


@st.composite
def _filter_args(draw):
    cols = list(_META_POOLS)
    args = {}
    for col in draw(st.lists(st.sampled_from(cols), max_size=3)):
        kind = draw(st.sampled_from(["filter", "exclude", "empty",
                                     "gte", "gt", "lte", "lt"]))
        vals = draw(st.lists(st.sampled_from(_META_POOLS[col]),
                             min_size=1, max_size=2))
        if kind in ("filter", "exclude"):
            args[f"{kind}:{col}"] = vals
        elif kind == "empty":
            args[f"empty:{col}"] = "true"
        else:
            args[f"filter:{kind}:{col}"] = vals[0]
    datasets = draw(st.one_of(st.none(), st.sets(st.sampled_from(
        ["a", "b", "zz"]), max_size=2)))
    return args, datasets


@given(case=_filter_args())
@example(case=({"filter:gte:wall": "2020-03-01"}, None))
@example(case=({"filter:lt:ts": "2020-03-01", "exclude:d": "NaN"}, None))
@example(case=({"filter:gt:dt": "2020-02", "filter:b": str(_BIG + 1)},
               {"a", "zz"}))
@example(case=({"filter:d": ["-0.0"]}, None))
@example(case=({"filter:gte:d": "0.0", "exclude:d": "0"}, None))
@settings(max_examples=40, deadline=None)
def test_meta_spec_mask_matches_column(spark, meta_index, case):
    """One MetaSpec, two evaluators: the ids ``spec.mask`` keeps over
    the doc_meta parts equal the ids ``doc_meta.filter(spec.column())``
    keeps — for random filter, exclude, empty and range args (partial
    dates included) and an optional auth conjunct, under a UTC and a
    non-UTC session time zone."""
    import pyarrow.dataset as ds
    from openaleph_search_spark.index.storage import IndexStorage
    from openaleph_search_spark.query.auth import SearchAuth
    from openaleph_search_spark.query.filters import meta_spec
    from openaleph_search_spark.query.parser import parse_args
    args, datasets = case
    sa = parse_args(args)
    auth = None if datasets is None else SearchAuth(datasets=datasets)
    st_ = IndexStorage(meta_index)
    dm = st_.doc_meta(spark)
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            spec = meta_spec(spark, dm.schema, sa.filters, sa.excludes,
                             sa.empties, sa.ranges, auth, "s")
            got = set()
            for name in st_.io.listdir(st_.doc_meta_dir):
                t = ds.dataset(st_.io.path(f"{st_.doc_meta_dir}/{name}"),
                               filesystem=st_.io.fs).to_table()
                got |= set(t.column("doc_id").to_numpy()[spec.mask(t)]
                           .tolist())
            want = {r[0] for r in dm.filter(spec.column())
                    .select("doc_id").collect()}
            assert got == want, (zone, args, datasets, spec)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


# -- the driver's part cache against the task path ---------------------------
_CACHE_WORDS = ["alpha", "beta", "gamma", "delta", "eps"]


@st.composite
def _cache_case(draw):
    docs = draw(st.lists(st.lists(st.sampled_from(_CACHE_WORDS),
                                  min_size=1, max_size=14),
                         min_size=3, max_size=18))
    victim = draw(st.integers(0, len(docs) - 1))
    a, b, c = draw(st.permutations(_CACHE_WORDS))[:3]
    return docs, victim, (a, b, c)


def _cache_paths_reads(a: str, b: str, c: str) -> dict:
    """One read of every class the scatter serves, and more_like_this's
    term selection: name → fn(engine)."""
    from openaleph_search_spark.query.more_like_this import \
        interesting_terms

    def hits(args):
        return lambda e: [tuple(r) for r in e.search(
            {**args, "limit": 4}).hits.select(
            "doc_id", "score", "path").collect()]

    def mlt(e):
        top = e.search({"q": f"{a} OR {b} OR {c}", "limit": 1}).hits
        return [interesting_terms(e, r["doc_id"], min_len=1,
                                  max_df_ratio=1.0)
                for r in top.collect()]
    return {
        "and": hits({"q": f"{a} {b}"}),
        "or": hits({"q": f"{a} OR {b}"}),
        "not": hits({"q": f"{a} -{b}"}),
        "phrase2": hits({"q": f'"{a} {b}"'}),
        "phrase3": hits({"q": f'"{a} {b} {c}"'}),
        "sloppy": hits({"q": f'"{a} {b}"~2'}),
        "prefix": hits({"q": f"{a[:2]}* {c}"}),
        "wildcard": hits({"q": f"{a[0]}?{a[2]}* OR {b[0]}*"}),
        "mlt": mlt,
        "filter_lang": hits({"q": f"{a} OR {c}", "filter:lang": "en"}),
        "facet": lambda e: [tuple(r) for r in e.search(
            {"q": f"{a} OR {b}", "facet": "lang", "limit": 0}
        ).facets["lang"].collect()],
        "count": lambda e: e.count({"q": f"{b} OR {c}"}),
        "match_all": hits({}),
        "pure_not": hits({"q": f"-{a}"}),
        "count_all": lambda e: e.count({}),
        "count_not": lambda e: e.count({"q": f"-{b}"}),
        "msearch": lambda e: sorted(tuple(r) for r in e.msearch(
            {"x": {"q": a}, "y": {"q": f"{b} {c}"}}, k=3).select(
            "query_id", "doc_id", "score", "path").collect()),
    }


@given(_cache_case())
@settings(max_examples=5, deadline=None)
def test_part_cache_paths_agree(spark, tmp_path_factory, case):
    """On a random corpus with one deleted doc, every read class gives
    the same rows, ranks and scores from a cold Engine (each read its
    Engine's first: the part cache fills), a warm Engine (each read
    run before: only cache hits, no index file opened), the task path
    (``_POSTINGS_PER_TASK`` = 1: one Spark task per group, each reading
    its own part files) and a driver with no part cache and no held
    term dictionary (budget 0: each read reads the query terms' rows
    from the part files, and planning its dictionary rows from the
    term_stats files)."""
    from unittest import mock

    from openaleph_search_spark.index.build import build_index
    from openaleph_search_spark.index.mutate import delete_docs
    from openaleph_search_spark.index.storage import IndexStorage
    from openaleph_search_spark.query import executor as xmod
    from openaleph_search_spark.query.engine import Engine
    from pyspark.sql import functions as F
    docs, victim, words = case
    rows = [(f"r{i % 2}", f"d{i}.txt", "c", ("en", "fr")[i % 3 == 0],
             " ".join(toks)) for i, toks in enumerate(docs)]
    idx = str(tmp_path_factory.mktemp("idx_cache_paths"))
    build_index(spark, spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string"), idx, num_partitions=3, num_shards=2,
        bigrams=True)
    delete_docs(spark, IndexStorage(idx), F.col("path") == f"d{victim}.txt")
    reads = _cache_paths_reads(*words)
    cold = {n: fn(Engine(spark, idx)) for n, fn in reads.items()}
    eng = Engine(spark, idx)
    for fn in reads.values():
        fn(eng)
    misses = eng.explain({"q": words[0]})["part_cache"]["misses"]
    warm = {n: fn(eng) for n, fn in reads.items()}
    assert eng.explain({"q": words[0]})["part_cache"]["misses"] == misses
    with mock.patch.object(xmod, "_POSTINGS_PER_TASK", 1):
        task = {n: fn(Engine(spark, idx)) for n, fn in reads.items()}
    with mock.patch.object(xmod, "_DRIVER_CACHE_BYTES", 0):
        files = Engine(spark, idx)
        uncached = {n: fn(files) for n, fn in reads.items()}
        assert files.explain({"q": words[0]})["part_cache"] is None
        assert files.explain({"q": words[0]})["term_dict"] is None
    assert warm == cold
    assert task == cold
    assert uncached == cold
    assert not any(f"d{victim}.txt" in r for v in cold.values()
                   if isinstance(v, list) for r in v)
