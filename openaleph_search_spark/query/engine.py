"""Engine facade — the public API surface mirroring the reference's
``search_query_string`` lifecycle
(/root/reference/openaleph_search/search/logic.py:25-33 →
query/queries.py:111 → query/base.py:469-533), Spark-first.

Lifecycle: parse (driver) → plan (IR + filter split) → execute
(per-shard grouped-map scatter, tiny gather) → hydrate (join doc_meta).
Facet/post_filter interplay (Q10/A8): each facet is computed with every
*other* facet's filter applied; hits get all filters — the match set is
computed once and the branches reuse it
(/root/reference/openaleph_search/query/base.py:99-123,226-238).
"""
from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..analysis.analyzer import analyze_text
from ..index.storage import IndexStorage
from ..index.build import FIELD_SEP
from .executor import MetaSpec, SearchExecutor, scatter_tasks
from .facets import (cardinality, histogram_facet, metric_aggs,
                     significant_terms, terms_facet)
from .parser import partial_date_bounds
from .ir import (Bool, DisMax, MatchAll, Node, PhraseLeaf, PrefixLeaf,
                 TermLeaf, WildcardLeaf)
from .parser import SearchArgs, parse_args, parse_query_string


@dataclass
class SearchResult:
    hits: DataFrame          # doc_id, score, repo, path, commit, lang, doc_len
    total: int | None = None
    facets: dict[str, DataFrame] = field(default_factory=dict)
    facet_totals: dict[str, DataFrame] = field(default_factory=dict)
    significant: dict[str, DataFrame] = field(default_factory=dict)
    metrics: DataFrame | None = None

    def hit_rows(self, offset: int = 0, limit: int = 20) -> list[dict]:
        rows = self.hits.limit(offset + limit).collect()
        return [r.asDict() for r in rows[offset:]]



# reference parse/parser.py:149,219-241 — facet caps added there to
# mitigate a DDoS by scripted facet bots (2020-11-24): anonymous
# sessions get facet_size clamped to 50 and facet_total disabled,
# except on the small enumerable fields. Re-based field names: repo
# (dataset analog), lang (languages analog).
SMALL_FACETS = ("repo", "lang")


def _anon(auth) -> bool:
    return auth is not None and not auth.logged_in


def _facet_size(sa, auth, f: str) -> int:
    size = sa.facet_size.get(f, 20)
    if _anon(auth) and f not in SMALL_FACETS:
        size = min(50, size)
    return size


def _facet_total_on(sa, auth, f: str) -> bool:
    if _anon(auth) and f not in SMALL_FACETS:
        return False
    return f in sa.facet_total


# the final cut of gathered scatter output runs here in pandas: a Spark
# sort on a LocalRelation would still cost a job per query
def _top_k(pdf: pd.DataFrame | None, k: int,
           by: str | None = None) -> pd.DataFrame | None:
    """Global top-k of gathered per-group hits by (score desc, doc_id
    asc); per ``by`` value (one query of a batch) when given."""
    if pdf is None:
        return None
    if by is None:
        return pdf.sort_values(["score", "doc_id"],
                               ascending=[False, True]).head(k)
    return (pdf.sort_values([by, "score", "doc_id"],
                            ascending=[True, False, True])
            .groupby(by, sort=False).head(k))


FACET_SCHEMA = StructType([StructField("value", StringType()),
                           StructField("count", LongType())])


def _facet_cut(partials: pd.DataFrame | None, f: str,
               size: int) -> pd.DataFrame | None:
    """One terms facet from gathered per-group partials: counts summed
    by value, ordered by (count desc, value asc), ``size`` buckets."""
    if partials is None:
        return None
    sub = (partials[partials["field"] == f]
           .groupby("value", as_index=False)["count"].sum())
    return sub.sort_values(["count", "value"],
                           ascending=[False, True]).head(size)


class Engine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 synonyms=None, source_docs: DataFrame | None = None,
                 require_auth: bool = False, auth_field: str = "repo",
                 allow_leading_wildcard: bool = False):
        """``synonyms``: a SynonymTable or a path to a synonym file
        (search-time expansion, Q22/Q23). ``source_docs``: the original
        docs table — needed only for content-bearing features
        (highlighting), mirroring the reference's _source excludes.
        ``require_auth``: every search/count must carry a SearchAuth
        (reference OPENALEPH_SEARCH_AUTH=true; query/auth.py)."""
        self.spark = spark
        self.storage = IndexStorage(index_dir)
        self.executor = SearchExecutor(
            spark, self.storage,
            allow_leading_wildcard=allow_leading_wildcard)
        self._doc_meta: DataFrame | None = None
        self._has_tombstones = False
        self.source_docs = source_docs
        self.require_auth = require_auth
        self.auth_field = auth_field
        if isinstance(synonyms, str):
            from .synonyms import SynonymTable
            synonyms = SynonymTable.from_file(synonyms)
        self.synonyms = synonyms

    def _auth_pred(self, auth):
        """Mandatory session ACL conjunct (query/auth.py semantics)."""
        if auth is None:
            if self.require_auth:
                raise RuntimeError(
                    "auth required: pass auth=SearchAuth(...) "
                    "(reference model.py:11-28)")
            return None
        return auth.predicate(self.auth_field)

    # -- public surface -------------------------------------------------------
    def analyze(self, text: str) -> list[tuple[str, int]]:
        """Debug/UX tokenizer endpoint (reference search/logic.py:42-69)."""
        return analyze_text(text)

    def explain(self, args: dict | SearchArgs) -> dict:
        """Planner debug (the ES ``_validate_query``/explain role),
        driver-only — zero Spark jobs beyond the cached term
        dictionary: the parsed IR, analyzed + dictionary-expanded
        terms, the physical strategy ``search()`` would pick, the
        query's ``est_postings`` (df summed over its terms) and
        ``scatter_tasks``, the scatter job's task count (0 when the plan
        evaluates in the driver, None when ``search()`` takes no scatter
        path), and ``scatter_columns``, the postings columns the scatter
        reads. Mirrors search()'s branch conditions; a drift here breaks the
        test that asserts strategy names against observed plans."""
        sa = args if isinstance(args, SearchArgs) else parse_args(args)
        tree = self._plan(sa)
        ex = self.executor
        ex._expand_prefixes(tree)
        ex._expand_wildcards(tree)
        expansions = {
            (l.prefix + "*" if isinstance(l, PrefixLeaf) else l.pattern):
                list(l.expanded or [])
            for l in tree.leaves()
            if isinstance(l, (PrefixLeaf, WildcardLeaf))}
        bigrams_on = bool(ex.meta.get("bigrams"))
        phrase_fast = [
            " ".join(l.terms) for l in tree.leaves()
            if isinstance(l, PhraseLeaf)
            and ex._phrase_uses_bigrams(l, bigrams_on)]
        need_pos = any(
            isinstance(l, PhraseLeaf)
            and not (ex._phrase_uses_bigrams(l, bigrams_on)
                     and len(l.terms) == 2)
            for l in tree.leaves())
        pure_negative = (isinstance(tree, Bool) and tree.must_not
                         and not tree.must and not tree.should)
        post_fields = [f for f in sa.facets if f in sa.filters]
        need_full = bool(sa.facets or sa.facet_total or sa.metrics
                         or sa.facet_significant or sa.sort
                         or sa.function_score or sa.search_after)
        dtypes = dict(self.doc_meta.dtypes)
        if (sa.facets and sa.k == 0 and not post_fields
                and not sa.facet_total and not sa.metrics
                and not sa.facet_significant and not sa.sort
                and not sa.function_score and not sa.highlight
                and not sa.search_after
                and not isinstance(tree, MatchAll) and not pure_negative
                and all(f not in sa.facet_interval
                        and dtypes.get(f) == "string"
                        for f in sa.facets)):
            strategy = "facet_partials_cogroup"
        elif isinstance(tree, MatchAll):
            strategy = "match_all_meta_scan"
        elif pure_negative:
            strategy = "anti_join_scan"
        elif need_full:
            strategy = "full_match_then_branches"
        else:
            strategy = "topk_scatter_gather"
        # the fan-out comes from the helper _scatter_exec runs; search()
        # takes a scatter job unless the tree is match-all, the layout
        # lost its per-part files, or a filter has no exact MetaSpec
        # (pure-negative queries scatter their banned set unfiltered)
        _, _, _, read_cols, est, groups = ex._scatter_plan([tree], sa.k)
        scatter = (strategy != "match_all_meta_scan" and ex.scatter_ok()
                   and (pure_negative or self._meta_spec(
                       {f: v for f, v in sa.filters.items()
                        if f not in post_fields}, sa, None) is not None))
        mode = {"topk_scatter_gather": "hydrate",
                "facet_partials_cogroup": "facet"}.get(strategy, "scores")
        return {
            "query_tree": repr(tree),
            "strategy": strategy,
            "terms": ex._collect_terms(tree),
            "expansions": expansions,
            "needs_positions": need_pos,
            "phrase_bigram_fast_path": phrase_fast,
            "k": sa.k,
            "pruning_eligible": strategy == "topk_scatter_gather",
            "post_filter_fields": post_fields,
            "est_postings": est,
            "scatter_tasks": (scatter_tasks(mode, sa.k, est, len(groups))
                              if scatter else None),
            "scatter_columns": read_cols if scatter else None,
        }

    def stats(self) -> dict:
        """Index statistics (the ES ``_stats``/``_cat/indices`` role):
        collection stats from meta, live/tombstoned doc counts, term
        dictionary size, and per-shard posting-block balance — the
        numbers an operator checks before blaming a slow query on
        skew. One tiny Spark agg over block metadata columns."""
        meta = dict(self.executor.meta)
        tombs = 0
        from ..index.mutate import read_tombstones
        t = read_tombstones(self.spark, self.storage)
        if t is not None:
            tombs = t.count()
        shard_rows = (self.executor._postings()
                      .groupBy("shard")
                      .agg(F.count("*").alias("blocks"),
                           F.sum("doc_count").alias("postings"))
                      .collect())
        shards = {int(r["shard"]): {"blocks": int(r["blocks"]),
                                    "postings": int(r["postings"])}
                  for r in shard_rows}
        # iterate the FULL shard range: a completely empty shard emits
        # no groupBy row, and skipping it would report balance 1.0 for
        # maximal skew — the opposite of what the metric signals
        for sid in range(int(meta.get("num_shards") or 0)):
            shards.setdefault(sid, {"blocks": 0, "postings": 0})
        post_counts = [s["postings"] for s in shards.values()] or [0]
        cache = self.executor._term_dict()
        n_terms = (int(cache[0].size) if cache is not None
                   else self.storage.term_stats(self.spark).count())
        return {
            "n_docs": meta.get("n_docs"),
            "tombstoned_docs": tombs,
            "avgdl": meta.get("avgdl"),
            "num_shards": meta.get("num_shards"),
            "num_partitions": meta.get("num_partitions"),
            "layout_version": meta.get("layout_version"),
            "bigrams": bool(meta.get("bigrams")),
            "n_terms": n_terms,
            "shards": shards,
            "postings_balance": (min(post_counts) / max(max(post_counts), 1)),
        }

    @property
    def doc_meta(self) -> DataFrame:
        """Live docs only — tombstoned (deleted) ids are subtracted
        (Lucene-style soft deletes, index/mutate.py)."""
        if self._doc_meta is None:
            dm = self.storage.doc_meta(self.spark)
            from ..index.mutate import read_tombstones
            tombs = read_tombstones(self.spark, self.storage)
            self._has_tombstones = tombs is not None
            if tombs is not None:
                dm = dm.join(tombs, "doc_id", "left_anti")
            self._doc_meta = dm
        return self._doc_meta

    def search(self, args: dict | SearchArgs, with_total: bool = False,
               auth=None) -> SearchResult:
        sa = args if isinstance(args, SearchArgs) else parse_args(args)
        tree = self._plan(sa)

        # search_after validates BEFORE any distributed work (a
        # statically-invalid cursor must not cost a cluster scan)
        keyset = None
        if sa.search_after:
            if sa.sort:
                keyset = self._keyset_after(sa.sort, sa.search_after)
            elif isinstance(tree, MatchAll):
                # _doc-order scan cursor: the single last doc_id seen
                # (reference id-sorted export continuation)
                if len(sa.search_after) != 1:
                    raise ValueError(
                        "a _doc-order search_after cursor is the "
                        "single last doc_id; pass sort= for field "
                        "cursors")
                try:
                    keyset = (F.col("doc_id")
                              > int(sa.search_after[0]))
                except (TypeError, ValueError):
                    raise ValueError(
                        "search_after doc_id cursor "
                        f"{sa.search_after[0]!r} is not an integer"
                    ) from None
            else:
                raise ValueError(
                    "search_after requires an explicit sort (or a "
                    "match-all _doc scan); score cursors are not "
                    "stable floats")

        # split filters: filters on faceted fields become post-filters
        # (reference base.py:99-123) so each facet excludes its own.
        post_fields = [f for f in sa.facets if f in sa.filters]
        pre_filters = {f: v for f, v in sa.filters.items()
                       if f not in post_fields}
        pre_pred = self._predicate(pre_filters, sa)
        auth_pred = self._auth_pred(auth)
        if auth_pred is not None:
            # injected BEFORE user filters — facets and post-filters all
            # run inside the visibility set; never widened by filter:
            pre_pred = auth_pred if pre_pred is None \
                else (auth_pred & pre_pred)
        base_meta = self.doc_meta.filter(pre_pred) if pre_pred is not None \
            else self.doc_meta

        need_full_match = bool(sa.facets or sa.facet_total or sa.metrics
                               or sa.facet_significant
                               or sa.sort or with_total
                               or sa.function_score or sa.search_after)
        pure_negative = (isinstance(tree, Bool) and tree.must_not
                         and not tree.must and not tree.should)

        # facet-only fast path: plain terms facets over string meta
        # columns with no hits/total/interplay wanted → ONE cogrouped
        # pass emitting per-shard (value, count) partials; the match
        # set never shuffles (executor.facet_counts)
        dtypes = dict(self.doc_meta.dtypes)
        if (sa.facets and sa.k == 0 and not post_fields
                and not sa.facet_total and not sa.metrics
                and not sa.facet_significant and not sa.sort
                and not with_total and not sa.function_score
                and not sa.highlight and not sa.search_after
                and not isinstance(tree, MatchAll)
                and not pure_negative
                and all(f not in sa.facet_interval
                        and dtypes.get(f) == "string"
                        for f in sa.facets)):
            # scatter variant: each group reads its own doc_meta slice
            # for the facet values, and the partials of every facet are
            # gathered ONCE; the per-facet cuts run in pandas
            spec = (self._meta_spec(pre_filters, sa, auth)
                    if self.executor.scatter_ok() else None)
            if spec is not None:
                partials = self.executor.scatter_facet_counts(
                    tree, sa.facets, spec)
                facets = {
                    f: self.executor.local_frame(
                        _facet_cut(partials, f, _facet_size(sa, auth, f)),
                        FACET_SCHEMA)
                    for f in sa.facets}
            else:
                partials = self.executor.facet_counts(tree, sa.facets,
                                                      base_meta)
                facets = {
                    f: (partials.filter(F.col("field") == f)
                        .select("value", "count")
                        .orderBy(F.desc("count"), F.asc("value"))
                        .limit(_facet_size(sa, auth, f)))
                    for f in sa.facets}
            hits = (self.doc_meta.withColumn("score", F.lit(0.0))
                    .limit(0))
            return SearchResult(hits=hits, facets=facets)
        if isinstance(tree, MatchAll):
            matched = base_meta.withColumn("score", F.lit(0.0))
        elif pure_negative:
            # "NOT x" = match_all minus the negated set (ES lenient
            # query_string semantics); unscored, _doc order
            banned = self.executor.run(
                Bool(should=tree.must_not), k=None)
            matched = (base_meta.join(banned.select("doc_id"),
                                      "doc_id", "left_anti")
                       .withColumn("score", F.lit(0.0)))
        elif need_full_match:
            # only cogroup the doc_meta filter set into the executor
            # when a predicate/ACL/tombstone actually restricts it —
            # otherwise the full doc_meta would shuffle for nothing
            self.doc_meta  # resolve tombstone state
            fdf = base_meta if (pre_pred is not None
                                or self._has_tombstones) else None
            spec = None
            if fdf is not None and self.executor.scatter_ok():
                spec = self._meta_spec(pre_filters, sa, auth)
                if spec is not None:
                    fdf = None  # restriction rides inside the scatter
            ids = self.executor.run(tree, k=None, filter_df=fdf,
                                    spec=spec)
            matched = base_meta.join(ids, "doc_id")
            if sa.function_score:
                # Q21 function_score (queries.py:227-277): additive
                # length-prior boost, boost_mode sum; num_values
                # re-based to doc_len for the single-text-field corpus
                matched = matched.withColumn(
                    "score",
                    F.col("score") + F.sqrt(0.5 * F.col("doc_len")))
        else:
            self.doc_meta  # ensure tombstone state resolved
            filter_needed = (pre_pred is not None or bool(post_fields)
                             or self._has_tombstones)
            hits = None
            if self.executor.scatter_ok():
                spec = (self._meta_spec(pre_filters, sa, auth)
                        if filter_needed else None)
                if spec is not None or not filter_needed:
                    # per-group top-k evaluated AND hydrated where the
                    # group runs; the global cut on ≤ groups×k rows runs
                    # here in pandas — no exchange, no hydrate join, and
                    # the hits are a LocalRelation
                    schema = self._hits_schema()
                    raw = self.executor.scatter_topk_hydrated(
                        tree, sa.k, spec, self.doc_meta.columns)
                    hits = self.executor.local_frame(
                        _top_k(raw, sa.k), schema)
            if hits is None:
                filter_df = base_meta if filter_needed else None
                topk = self.executor.topk(tree, sa.k,
                                          filter_df=filter_df)
                # hydrate: the top-k side is bounded (≤ shards × k
                # rows) — broadcast it so doc_meta never shuffles for
                # a lookup of a few hundred ids (without the hint,
                # Catalyst plans a sort-merge join until AQE maybe
                # converts it at runtime)
                meta_cols = [c for c in self.doc_meta.columns
                             if c != "doc_id"]
                hits = (self.doc_meta.join(F.broadcast(topk), "doc_id")
                        .select("doc_id", "score", *meta_cols)
                        .orderBy(F.desc("score"), F.asc("doc_id")))
            if post_fields:
                hits = hits.filter(self._post_pred(sa, post_fields))
            hits = hits.limit(sa.k)
            if sa.highlight:
                hits = self._highlight(hits, tree, sa)
            return SearchResult(hits=self._dehydrate(hits, sa))

        facets, facet_totals, significant = {}, {}, {}
        for f in sa.facets:
            others = [g for g in post_fields if g != f]
            branch = matched.filter(self._post_pred(sa, others)) \
                if others else matched
            if f in sa.facet_interval:
                # A3 through the arg dialect: calendar buckets for
                # date/timestamp fields, width buckets for numerics
                facets[f] = histogram_facet(branch, f,
                                            sa.facet_interval[f])
            else:
                facets[f] = terms_facet(branch, f,
                                        _facet_size(sa, auth, f))
            if _facet_total_on(sa, auth, f):
                facet_totals[f] = cardinality(branch, f)
        for f in sa.facet_significant:
            # A5 through the arg dialect: matched docs as foreground,
            # the whole (live) collection as background
            others = [g for g in post_fields if g != f]
            branch = matched.filter(self._post_pred(sa, others)) \
                if others else matched
            significant[f] = significant_terms(
                branch, self.doc_meta, f, _facet_size(sa, auth, f))

        fully = matched.filter(self._post_pred(sa, post_fields)) \
            if post_fields else matched
        metrics_df = metric_aggs(fully, sa.metrics) if sa.metrics else None
        total = fully.count() if with_total else None

        if keyset is not None:
            fully = fully.filter(keyset)
        if sa.sort:
            order = [F.col(f).asc_nulls_last() if asc
                     else F.col(f).desc_nulls_last() for f, asc in sa.sort]
            hits = fully.orderBy(*order, F.asc("doc_id"))
        elif isinstance(tree, MatchAll):
            hits = fully.orderBy(F.asc("doc_id"))  # _doc order, no scoring
        else:
            hits = fully.orderBy(F.desc("score"), F.asc("doc_id"))
        hits = hits.limit(sa.k) if sa.k else hits.limit(0)
        if sa.highlight and not isinstance(tree, MatchAll):
            hits = self._highlight(hits, tree, sa)
        hits = self._dehydrate(hits, sa)
        return SearchResult(hits=hits,
                            total=total, facets=facets,
                            facet_totals=facet_totals,
                            significant=significant, metrics=metrics_df)

    def msearch(self, queries: dict[str, dict | SearchArgs],
                k: int = 10, auth=None) -> DataFrame:
        """ES ``_msearch``, Spark-first: every query's tree evaluates in
        ONE scatter pass (shared postings read + decode cache per
        group), hydrated in-group; the per-query top-k cut runs on the
        gathered rows. → DataFrame(doc_id, score, query_id, …doc_meta
        cols) with ≤ k rows per query — the batch-native result shape (the
        reference's msearch fans out N HTTP requests instead;
        openaleph_search uses it for checksum batch counts)."""
        from pyspark.sql import Window
        trees = {}
        for qid, a in queries.items():
            sa = a if isinstance(a, SearchArgs) else parse_args(a)
            if sa.filters or sa.facets or sa.sort:
                raise ValueError(
                    "msearch batches pure scored queries; use search() "
                    f"for {qid!r} (filters/facets/sort present)")
            tree = self._plan(sa)
            if not isinstance(tree, MatchAll):
                trees[str(qid)] = tree
        auth_pred = self._auth_pred(auth)
        if not trees:
            return (self.doc_meta.withColumn("score", F.lit(0.0))
                    .withColumn("query_id", F.lit("")).limit(0))
        # ACL/tombstones must restrict the per-group top-k itself
        # (filtering after the cut would drop hits without refill)
        dm = self.doc_meta if auth_pred is None \
            else self.doc_meta.filter(auth_pred)
        fdf = dm if (auth_pred is not None
                     or self._has_tombstones) else None
        spec = None
        if fdf is not None and self.executor.scatter_ok():
            spec = self._auth_spec(auth)
        if self.executor.scatter_ok() and (fdf is None or spec is not None):
            # per-query top-k evaluated and hydrated in-group; the
            # per-query cut runs here in pandas on ≤ groups×queries×k
            # rows — no doc_meta join, no window
            hit = self._hits_schema().fields
            raw = self.executor.scatter_multi_hydrated(
                trees, k, spec, self.doc_meta.columns)
            if raw is not None:
                raw = raw.rename(columns={"entity_id": "query_id"})
            return self.executor.local_frame(
                _top_k(raw, k, by="query_id"), StructType([
                    *hit[:2], StructField("query_id", StringType()),
                    *hit[2:]]))
        res = self.executor.run_multi(trees, k, filter_df=fdf)
        return (res.withColumnRenamed("entity_id", "query_id")
                .join(dm, "doc_id")
                .withColumn("_rn", F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("score"), F.asc("doc_id"))))
                .filter(F.col("_rn") <= k).drop("_rn"))

    def export(self, args: dict | SearchArgs | None = None, auth=None,
               include_fields: list[str] | None = None,
               exclude_fields: list[str] | None = None) -> DataFrame:
        """S6 full/filtered export: every LIVE doc matching the query
        and filters, hydrated from doc_meta, with optional column
        include/exclude (reference export.py:15-96 exports actions for
        reindexing with query + excluded-field support; Spark is
        already batch — no scroll machinery)."""
        sa = (args if isinstance(args, SearchArgs)
              else parse_args(args or {}))
        tree = self._plan(sa)
        pred = self._predicate(sa.filters, sa)
        auth_pred = self._auth_pred(auth)
        if auth_pred is not None:
            pred = auth_pred if pred is None else (auth_pred & pred)
        base = self.doc_meta.filter(pred) if pred is not None \
            else self.doc_meta
        if isinstance(tree, MatchAll):
            out = base
        elif isinstance(tree, Bool) and tree.must_not and not tree.must \
                and not tree.should:
            banned = self.executor.run(Bool(should=tree.must_not), k=None)
            out = base.join(banned.select("doc_id"), "doc_id",
                            "left_anti")
        else:
            self.doc_meta  # resolve tombstone state
            fdf = base if (pred is not None
                           or self._has_tombstones) else None
            ids = self.executor.run(tree, k=None, filter_df=fdf)
            out = base.join(ids.select("doc_id"), "doc_id")
        cols = list(out.columns)
        if include_fields:
            cols = [c for c in cols if c in set(include_fields)
                    or c == "doc_id"]
        if exclude_fields:
            cols = [c for c in cols if c not in set(exclude_fields)]
        return out.select(*cols)

    def count(self, args: dict | SearchArgs, auth=None) -> int:
        """Q31: filtered match count without hits."""
        sa = args if isinstance(args, SearchArgs) else parse_args(args)
        tree = self._plan(sa)
        pred = self._predicate(sa.filters, sa)
        auth_pred = self._auth_pred(auth)
        if auth_pred is not None:
            pred = auth_pred if pred is None else (auth_pred & pred)
        base = self.doc_meta.filter(pred) if pred is not None else self.doc_meta
        if isinstance(tree, MatchAll):
            return base.count()
        if isinstance(tree, Bool) and tree.must_not and not tree.must \
                and not tree.should:
            banned = self.executor.run(Bool(should=tree.must_not), k=None)
            return base.join(banned.select("doc_id"), "doc_id",
                             "left_anti").count()
        if self.executor.scatter_ok():
            spec = self._meta_spec(sa.filters, sa, auth)
            if spec is not None:
                return self.executor.scatter_count(tree, spec)
        return self.executor.run(tree, k=None, filter_df=base).count()

    @staticmethod
    def _cursor_literal(cv, dtype: str):
        """Validate a cursor value against the column dtype DRIVER-SIDE
        (Spark's non-ANSI cast would turn an unparsable value into a
        NULL literal → a silently-empty page instead of an error)."""
        import datetime as _dt
        try:
            if dtype in ("tinyint", "smallint", "int", "bigint"):
                int(cv)
            elif dtype in ("float", "double") or dtype.startswith(
                    "decimal"):
                float(cv)
            elif dtype in ("timestamp", "timestamp_ntz", "date"):
                _dt.datetime.fromisoformat(str(cv).replace("T", " "))
        except (TypeError, ValueError):
            raise ValueError(
                f"search_after cursor value {cv!r} is not valid for a "
                f"{dtype} sort column") from None
        return F.lit(cv).cast(dtype)

    def _keyset_after(self, sort: list[tuple[str, bool]],
                      cursor: list):
        """ES ``search_after`` keyset predicate: rows strictly AFTER
        the cursor in (sort…, doc_id asc) order — deep paging as an
        indexable range filter instead of an offset scan (the
        reference's PIT+search_after export continuation,
        /root/reference/openaleph_search/index/entities.py:112-140).
        ``cursor`` carries one value per sort field plus the final
        doc_id tiebreak. NULL sort keys order nulls_last (matching the
        sort itself): a null-keyed row sorts after every non-null
        cursor, and ``None`` as a cursor element resumes WITHIN the
        null region of that key."""
        keys = [*sort, ("doc_id", True)]
        if len(cursor) != len(keys):
            raise ValueError(
                f"search_after needs {len(keys)} values (one per sort "
                f"field + the doc_id tiebreak), got {len(cursor)}")
        dtypes = dict(self.doc_meta.dtypes)
        for f, _ in keys:
            if f not in dtypes:
                raise ValueError(
                    f"search_after sort field {f!r} is not a stored "
                    "doc_meta column (score cursors are not stable "
                    "floats)")
        pred = None
        eq = None
        for (f, asc), cv in zip(keys, cursor):
            col = F.col(f)
            if cv is None:
                # cursor sits in this key's null region: nothing sorts
                # after null at this level; deeper keys break the tie
                cmp = F.lit(False)
                e = col.isNull()
            else:
                lit = self._cursor_literal(cv, dtypes.get(f, "string"))
                # nulls_last: null-keyed rows sort AFTER any non-null
                # cursor value, so they stay reachable on later pages
                cmp = ((col > lit) if asc else (col < lit)) \
                    | col.isNull()
                e = col == lit
            term = cmp if eq is None else (eq & cmp)
            pred = term if pred is None else (pred | term)
            eq = e if eq is None else (eq & e)
        return pred

    # -- planning helpers -----------------------------------------------------
    def _hits_schema(self) -> StructType:
        """(doc_id, score, …doc_meta columns): the hit row shape."""
        return StructType([
            StructField("doc_id", LongType()),
            StructField("score", DoubleType()),
            *(f for f in self.doc_meta.schema.fields if f.name != "doc_id")])

    def _meta_spec(self, filters: dict[str, list[str]], sa: SearchArgs,
                   auth) -> MetaSpec | None:
        """Translate the doc_meta restriction (auth + filters +
        excludes + empties) into a :class:`MetaSpec` for the scatter
        path — ONLY when the translation is provably exact (string
        equality/isin and null checks). Ranges, casts and non-string
        columns return None → the legacy cogrouped plan runs."""
        if sa.ranges:
            return None
        dtypes = dict(self.doc_meta.dtypes)
        conj: list[tuple] = []
        if auth is not None and not auth.is_admin:
            if not auth.datasets:
                return MetaSpec(match_none=True)
            if dtypes.get(self.auth_field) != "string":
                return None
            conj.append(("in", self.auth_field,
                         tuple(sorted(auth.datasets))))
        for f, vals in filters.items():
            if dtypes.get(f) != "string" or not all(
                    isinstance(v, str) for v in vals):
                return None
            conj.append(("in", f, tuple(vals)))
        for f, vals in sa.excludes.items():
            if dtypes.get(f) != "string" or not all(
                    isinstance(v, str) for v in vals):
                return None
            conj.append(("notin_or_null", f, tuple(vals)))
        for f in sa.empties:
            if f not in dtypes:
                return None
            conj.append(("isnull", f, ()))
        return MetaSpec(conjuncts=tuple(conj))

    def _auth_spec(self, auth) -> MetaSpec | None:
        """Auth-only MetaSpec (msearch path — no user filters there)."""
        if auth is None:
            return MetaSpec()
        if auth.is_admin:
            return MetaSpec()
        if not auth.datasets:
            return MetaSpec(match_none=True)
        if dict(self.doc_meta.dtypes).get(self.auth_field) != "string":
            return None
        return MetaSpec(conjuncts=(
            ("in", self.auth_field, tuple(sorted(auth.datasets))),))

    def _plan(self, sa: SearchArgs) -> Node:
        tree = parse_query_string(sa.q)
        if sa.synonyms and self.synonyms is not None \
                and not isinstance(tree, MatchAll):
            tree = self.synonyms.rewrite(tree)
        if sa.prefix:
            leaf = PrefixLeaf(sa.prefix.lower())
            tree = leaf if isinstance(tree, MatchAll) \
                else Bool(must=[tree, leaf])
        tree = self._resolve_fields(tree, sa.qfields)
        meta = self.executor.meta
        if not meta.get("with_positions", True) and meta.get("bigrams"):
            tree = self._rewrite_phrases_to_bigrams(tree)
        return tree

    def _rewrite_phrases_to_bigrams(self, node: Node) -> Node:
        """T16 index_phrases fast path: with positions disabled, exact
        content phrases execute as a conjunction of 2-gram shingle
        terms (ES mapping.py:208 behavior; scoring uses the shingle
        field's own stats, like ES)."""
        from ..index.build import BIGRAM_FIELD, FIELD_SEP
        if isinstance(node, PhraseLeaf) and node.slop == 0 \
                and FIELD_SEP not in node.terms[0]:
            bi = [TermLeaf(f"{BIGRAM_FIELD}{FIELD_SEP}{a} {b}",
                           node.boost)
                  for a, b in zip(node.terms, node.terms[1:])]
            return bi[0] if len(bi) == 1 else Bool(must=bi)
        if isinstance(node, Bool):
            return Bool(
                must=[self._rewrite_phrases_to_bigrams(c)
                      for c in node.must],
                should=[self._rewrite_phrases_to_bigrams(c)
                        for c in node.should],
                must_not=[self._rewrite_phrases_to_bigrams(c)
                          for c in node.must_not],
                min_should=node.min_should)
        if isinstance(node, DisMax):
            return DisMax([self._rewrite_phrases_to_bigrams(c)
                           for c in node.children])
        return node

    def _resolve_fields(self, node: Node,
                        qfields: list[tuple[str, float]]) -> Node:
        """Lucene field:term resolution: explicit fields become
        field-prefixed dictionary terms; with ``qfields``, unfielded
        leaves fan out across fields as a dis_max (reference Q2 boosts:
        name^4, content, text^0.8 — queries.py:112-118)."""
        def prefix(term: str, fieldname: str | None) -> str:
            if not fieldname or fieldname == "content":
                return term
            return f"{fieldname}{FIELD_SEP}{term}"

        def walk(n: Node) -> Node:
            if isinstance(n, TermLeaf):
                if FIELD_SEP in n.term:
                    return n  # already a resolved dictionary term
                if n.field:
                    return TermLeaf(prefix(n.term, n.field), n.boost)
                if qfields:
                    return DisMax([
                        TermLeaf(prefix(n.term, f), n.boost * b)
                        for f, b in qfields])
                return n
            if isinstance(n, PhraseLeaf):
                if n.field:
                    return PhraseLeaf(
                        [prefix(t, n.field) for t in n.terms],
                        slop=n.slop, boost=n.boost)
                if qfields:
                    # ES query_string fans EVERY clause type across the
                    # fields list, not just bare terms
                    return DisMax([
                        PhraseLeaf([prefix(t, f) for t in n.terms],
                                   slop=n.slop, boost=n.boost * b)
                        for f, b in qfields])
                return n
            if isinstance(n, PrefixLeaf):
                if n.field:
                    return PrefixLeaf(prefix(n.prefix, n.field), n.boost)
                if qfields:
                    return DisMax([
                        PrefixLeaf(prefix(n.prefix, f), n.boost * b)
                        for f, b in qfields])
                return n
            if isinstance(n, WildcardLeaf):
                if n.field:
                    return WildcardLeaf(prefix(n.pattern, n.field),
                                        n.boost)
                if qfields:
                    return DisMax([
                        WildcardLeaf(prefix(n.pattern, f), n.boost * b)
                        for f, b in qfields])
                return n
            if isinstance(n, Bool):
                return Bool(must=[walk(c) for c in n.must],
                            should=[walk(c) for c in n.should],
                            must_not=[walk(c) for c in n.must_not],
                            min_should=n.min_should)
            if isinstance(n, DisMax):
                return DisMax([walk(c) for c in n.children])
            return n
        return walk(node)

    def _predicate(self, filters: dict[str, list[str]], sa: SearchArgs):
        pred = None

        def conj(p):
            nonlocal pred
            pred = p if pred is None else (pred & p)

        for f, vals in filters.items():
            conj(F.col(f) == vals[0] if len(vals) == 1
                 else F.col(f).isin(vals))
        for f, vals in sa.excludes.items():
            conj(~(F.col(f).isin(vals)) | F.col(f).isNull())
        for f in sa.empties:
            conj(F.col(f).isNull())
        for f, ops in sa.ranges.items():
            dtype = (self.doc_meta.schema[f].dataType
                     if f in self.doc_meta.columns else None)
            dateish = dtype is not None and dtype.typeName() in (
                "timestamp", "date", "timestamp_ntz")
            for op, v in ops.items():
                col = F.col(f)
                if dateish:
                    bounds = partial_date_bounds(v)
                    if bounds is not None:
                        start, end = bounds
                        s_lit = F.lit(start).cast(dtype)
                        e_lit = F.lit(end).cast(dtype)
                        if start == end:  # full timestamp → exact point
                            conj({"gte": col >= s_lit, "lte": col <= s_lit,
                                  "gt": col > s_lit,
                                  "lt": col < s_lit}[op])
                        else:
                            # ES partial-date semantics: the value names
                            # a whole period (mapping.py:35,47)
                            conj({"gte": col >= s_lit, "gt": col >= e_lit,
                                  "lte": col < e_lit,
                                  "lt": col < s_lit}[op])
                        continue
                lit = F.lit(v).cast(dtype) if dtype is not None else F.lit(v)
                conj({"gte": col >= lit, "lte": col <= lit,
                      "gt": col > lit, "lt": col < lit}[op])
        return pred

    # short-code filter groups are never highlighted (reference
    # base.py:414-423: "es" for Spain would match German text)
    HIGHLIGHT_SKIP_FILTERS = {"lang"}

    def _highlight(self, hits: DataFrame, tree: Node,
                   sa: SearchArgs) -> DataFrame:
        """Q24: fragment extraction on the top-k hit set only. Content
        comes from the source docs table (the index stores none —
        reference _source-excludes design); the join side is k rows →
        broadcast.

        ``highlight_query`` overrides the term source (reference
        get_highlighter text override); values of human-readable
        filters are highlighted too (base.py:414-446)."""
        if self.source_docs is None:
            return hits
        max_fragments = sa.highlight_count
        fragment_size = sa.highlight_length
        if sa.highlight_query:
            tree = parse_query_string(sa.highlight_query)
            if sa.synonyms and self.synonyms is not None:
                tree = self.synonyms.rewrite(tree)
        terms: set[str] = set()
        for leaf in tree.leaves():
            if isinstance(leaf, TermLeaf):
                terms.add(leaf.term)
            elif isinstance(leaf, PhraseLeaf):
                terms.update(leaf.terms)
            elif isinstance(leaf, (PrefixLeaf, WildcardLeaf)):
                terms.update(leaf.expanded or [])
        # filter-value highlighting (human-readable groups only)
        from ..analysis.analyzer import analyze_query_terms
        for f, vals in sa.filters.items():
            if f in self.HIGHLIGHT_SKIP_FILTERS or ":" in f:
                continue
            for v in vals:
                terms.update(analyze_query_terms(v))
        # highlighting targets the content field only
        terms = {t for t in terms if FIELD_SEP not in t}

        from .highlight import highlight_text
        import pandas as pd

        def add_hl(it):
            for pdf in it:
                pdf = pdf.copy()
                pdf["highlights"] = pdf["content"].map(
                    lambda t: highlight_text(
                        t or "", terms, fragment_size=fragment_size,
                        max_fragments=max_fragments))
                yield pdf.drop(columns=["content"])

        joined = hits.join(
            self.source_docs.select("repo", "path", "commit", "content"),
            ["repo", "path", "commit"], "left")
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in joined.schema.fields if f.name != "content"
        ) + ", highlights array<string>"
        return joined.mapInPandas(add_hl, schema)

    # reference queries.py:279-294: include_fields accepts both plain
    # column names and GROUP names that expand to column sets (the FtM
    # property-group expansion, re-based onto the code-table columns)
    FIELD_GROUPS = {
        "identity": ["repo", "path", "commit"],
        "stats": ["doc_len", "content_sha256"],
    }
    DEHYDRATE_BASE = ["doc_id", "score", "repo", "path"]

    def _dehydrate(self, hits: DataFrame, sa: SearchArgs) -> DataFrame:
        """Q25: strip the hit payload to the fast-path column set;
        include_fields adds columns (or whole groups) back."""
        if not sa.dehydrate:
            return hits
        cols = [c for c in self.DEHYDRATE_BASE if c in hits.columns]
        for f in sa.include_fields:
            for c in self.FIELD_GROUPS.get(f, [f]):
                if c in hits.columns and c not in cols:
                    cols.append(c)
        return hits.select(*cols)

    def _post_pred(self, sa: SearchArgs, fields: list[str]):
        pred = F.lit(True)
        for f in fields:
            vals = sa.filters.get(f, [])
            if vals:
                pred = pred & (F.col(f) == vals[0] if len(vals) == 1
                               else F.col(f).isin(vals))
        return pred
