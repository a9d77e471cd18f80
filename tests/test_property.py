"""Property-based correctness: the per-shard evaluator (block-max
pruning, bool algebra, min_should, phrases) against the pure-Python
oracle on randomized corpora and query trees — no Spark in the loop,
so hypothesis can run hundreds of cases."""
from collections import Counter

import numpy as np
import pandas as pd
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
    """The vectorized composite-key percolation (join + searchsorted
    chains + segment reduce) must agree exactly with percolate_text's
    per-doc _phrase_hits evaluation on every (doc, entity, score,
    matched_names)."""
    from openaleph_search_spark.query.percolate import (
        StoredQuery, _percolate_batch_fn, percolate_text)
    stored = [StoredQuery(f"e{i}", [(toks, 2.0 if i % 2 == 0 else 0.8)])
              for i, toks in enumerate(clauses)]
    # merge multi-clause entities too: attach every third clause to e0
    if len(clauses) >= 3:
        stored[0] = StoredQuery("e0", [(clauses[0], 2.0),
                                       (clauses[2], 0.8)])
        del stored[2]
    pdf = pd.DataFrame({"doc_id": range(len(docs)),
                        "content": [" ".join(d) for d in docs]})
    fn = _percolate_batch_fn(stored, ["doc_id"], "content", slop)
    got = set()
    for out in fn(iter([pdf])):
        for _, r in out.iterrows():
            got.add((int(r["doc_id"]), r["entity_id"],
                     round(float(r["score"]), 9),
                     tuple(r["matched_names"])))
    want = set()
    for i, text in enumerate(pdf["content"]):
        for hit in percolate_text(text, stored, slop=slop):
            want.add((i, hit["entity_id"], round(hit["score"], 9),
                      tuple(hit["matched_names"])))
    assert got == want


# --------------------------------------------------------------------------
# scatter fan-out: grouping of source parts into tasks
# --------------------------------------------------------------------------

@given(parts=st.lists(st.integers(0, 1 << 20), min_size=1, max_size=80,
                      unique=True),
       par=st.integers(1, 256),
       ests=st.lists(st.integers(0, 300), min_size=2, max_size=2),
       frac=st.integers(0, 3))
@settings(max_examples=300, deadline=None)
def test_scatter_groups_partition_parts(parts, par, ests, frac):
    """Every part lands in exactly one non-empty group, the task count
    stays within [1, min(parts, par)], and it never drops as the
    query's est_postings grows."""
    from openaleph_search_spark.query.executor import (
        _POSTINGS_PER_TASK, _scatter_groups)
    # whole multiples of the per-task postings, ± a remainder around
    # the boundaries where the task count steps
    lo, hi = sorted(max(0, e * _POSTINGS_PER_TASK + frac - 1)
                    for e in ests)
    counts = []
    for est in (lo, hi):
        groups = _scatter_groups(parts, par, est)
        assert sorted(p for g in groups for p in g) == sorted(parts)
        assert all(groups)
        assert 1 <= len(groups) <= min(len(parts), par)
        counts.append(len(groups))
    assert counts[0] <= counts[1]


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


@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 2 ** 31),
       st.sampled_from(["gray", "4:4:4", "4:2:2", "4:2:0"]),
       st.sampled_from(["noise", "flat", "gradient"]),
       st.sampled_from([0, 1, 3]))
@settings(max_examples=40, deadline=None)
def test_jpeg_progressive_parity_property(h, w, seed, mode, kind, ri):
    """For ANY size/content/subsampling/restart-interval, decoding
    the progressive (SOF2) encoding is BIT-IDENTICAL to decoding the
    baseline (SOF0) encoding — the two entropy stages must be
    lossless over the same DCT coefficients. Covers ragged MCU
    padding, long EOB runs (flat content), refinement bits on dense
    spectra (noise), and RSTn predictor/EOB-run resets."""
    import numpy as np
    from openaleph_search_spark.ops.jpeg import (
        decode_jpeg, decode_jpeg_gray, encode_jpeg_color,
        encode_jpeg_gray, encode_jpeg_progressive)
    rs = np.random.RandomState(seed % (2 ** 32))
    if kind == "noise":
        img = rs.randint(0, 256, (h, w, 3))
    elif kind == "flat":
        img = np.full((h, w, 3), int(rs.randint(0, 256)))
        img[0, 0] = rs.randint(0, 256)
    else:
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack([(xx * 7) % 256, (yy * 5) % 256,
                        (xx + yy) % 256], axis=-1)
    img = img.astype(np.uint8)
    if mode == "gray":
        g = img[..., 0]
        assert np.array_equal(
            decode_jpeg_gray(encode_jpeg_progressive(
                g, restart_interval=ri)),
            decode_jpeg_gray(encode_jpeg_gray(g)))
        assert np.array_equal(
            decode_jpeg_gray(encode_jpeg_gray(g, restart_interval=ri)),
            decode_jpeg_gray(encode_jpeg_gray(g)))
        # CMYK path: restart variant is bit-identical to plain, and
        # both transforms reconstruct within codec rounding
        from openaleph_search_spark.ops.jpeg import encode_jpeg_cmyk
        for tr in (0, 2):
            plain = decode_jpeg(encode_jpeg_cmyk(img, transform=tr))
            assert np.abs(plain.astype(int)
                          - img.astype(int)).max() <= 4
            if ri:
                assert np.array_equal(
                    decode_jpeg(encode_jpeg_cmyk(
                        img, transform=tr, restart_interval=ri)),
                    plain)
    else:
        assert np.array_equal(
            decode_jpeg(encode_jpeg_progressive(
                img, subsampling=mode, restart_interval=ri)),
            decode_jpeg(encode_jpeg_color(img, subsampling=mode)))
        assert np.array_equal(
            decode_jpeg(encode_jpeg_color(
                img, subsampling=mode, restart_interval=ri)),
            decode_jpeg(encode_jpeg_color(img, subsampling=mode)))
