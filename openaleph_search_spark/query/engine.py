"""Engine facade — the public API surface mirroring the reference's
``search_query_string`` lifecycle
(/root/reference/openaleph_search/search/logic.py:25-33 →
query/queries.py:111 → query/base.py:469-533), Spark-first.

Lifecycle: parse (driver) → plan (IR + filters as a MetaSpec) →
execute (the scatter: per-group evaluation in the driver or one task
per group, tiny gather) → hydrate (in-group, from doc_meta).
Every bounded part of a search is one gathered scatter pass, cut in
pandas: its hits (in score order or a sort's, search_after and
function_score included), its total, and its terms facets over string
columns. Facet/post_filter interplay (Q10/A8): hits and the total get
every filter; each facet gets every filter but its own field's, one
facet pass per distinct set
(reference openaleph_search/query/base.py:99-123,226-238). Only
the aggregations that stay in Spark (histogram and non-string terms
facets, significant terms, metrics) read the full match, a Catalyst
join of doc_meta with every match's score.
"""
from __future__ import annotations

from dataclasses import dataclass, field
from functools import cache, cached_property

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

from ..analysis.analyzer import analyze_text
from ..index.storage import IndexStorage
from ..index.build import FIELD_SEP
from .executor import HitOrder, SearchExecutor, top_k
from .facets import (cardinality, histogram_facet, metric_aggs,
                     significant_terms, terms_facet)
from .filters import MetaSpec, comparable, keyset, meta_spec
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


FACET_SCHEMA = StructType([StructField("value", StringType()),
                           StructField("count", LongType())])
TOTAL_SCHEMA = StructType([StructField("cardinality", LongType())])


def _facet_buckets(partials: pd.DataFrame | None,
                   f: str) -> pd.DataFrame:
    """Every bucket of one terms facet from gathered per-group partials:
    counts summed by value, ordered by (count desc, value asc)."""
    if partials is None:
        return pd.DataFrame({"value": [], "count": []})
    sub = (partials[partials["field"] == f]
           .groupby("value", as_index=False)["count"].sum())
    return sub.sort_values(["count", "value"], ascending=[False, True])


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
        self.source_docs = source_docs
        self.require_auth = require_auth
        self.auth_field = auth_field
        if isinstance(synonyms, str):
            from .synonyms import SynonymTable
            synonyms = SynonymTable.from_file(synonyms)
        self.synonyms = synonyms

    def _spec(self, auth, filters: dict | None = None,
              sa: SearchArgs | None = None) -> MetaSpec:
        """The read's doc_meta restriction: the session ACL, then
        ``filters`` and ``sa``'s excludes, empties and ranges
        (query/filters.py holds every rule)."""
        if auth is None and self.require_auth:
            raise RuntimeError(
                "auth required: pass auth=SearchAuth(...) "
                "(reference model.py:11-28)")
        sa = sa or SearchArgs()
        return meta_spec(self.spark, self._meta_schema, filters,
                         sa.excludes, sa.empties, sa.ranges, auth,
                         self.auth_field)

    # -- public surface -------------------------------------------------------
    def analyze(self, text: str) -> list[tuple[str, int]]:
        """Debug/UX tokenizer endpoint (reference search/logic.py:42-69)."""
        return analyze_text(text)

    def explain(self, args: dict | SearchArgs) -> dict:
        """Planner debug (the ES ``_validate_query``/explain role),
        driver-only — zero Spark jobs on any index: the parsed IR,
        analyzed + dictionary-expanded terms, the path each part of
        ``search()`` takes: ``hits_order``, the order its hits pass cuts
        in (None when ``limit`` is 0: no hits pass), and
        ``pruning_eligible``, whether that pass prunes (score order
        only); ``facet_passes``, the string terms facets of each facet
        pass (one per distinct filter set); ``full_match``, the
        aggregations that read the full match in Spark, and
        ``full_match_tasks``, its job's task count (None when none
        reads it); the query's ``est_postings`` (df summed over its
        terms, plus ``n_docs`` for a match-all or pure-NOT),
        ``scatter_tasks``, each scatter pass's task count (never None: 0
        when the plan evaluates in the driver), and ``scatter_columns``,
        the postings columns the scatter reads,
        and ``part_cache``, the driver's decoded parts: ``parts``,
        ``bytes``, and its ``hits`` and ``misses`` so far (a miss read
        an index file; a warm driver-evaluated read only hits), or None
        when the index's files exceed the driver cache budget and
        driver reads read them each time, and ``term_dict``, the term
        dictionary held in the driver (``{"terms": n}``), or None when
        its files exceed the budget and each lookup reads them."""
        sa = args if isinstance(args, SearchArgs) else parse_args(args)
        tree = self._plan(sa)
        ex = self.executor
        ex._expand(tree)
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
        _, _, need_pos, read_cols, est, tasks, _ = ex._scatter_plan(
            [tree], sa.k, "topk")
        own = self._facet_passes(sa)
        full = [*(f"facet:{f}" for f in sa.facets if f not in own),
                *(f"facet_significant:{f}" for f in sa.facet_significant),
                *(f"metric:{op}" for op in sa.metrics)]
        held = ex._scatter_layout()["cache"]
        return {
            "query_tree": repr(tree),
            "terms": ex._collect_terms(tree),
            "expansions": expansions,
            "needs_positions": need_pos,
            "phrase_bigram_fast_path": phrase_fast,
            "k": sa.k,
            "hits_order": [f"{f}:{'asc' if asc else 'desc'}" for f, asc
                           in (sa.sort or [("score", False)])
                           ] + ["doc_id:asc"] if sa.k else None,
            "pruning_eligible": bool(sa.k) and not (
                sa.sort or sa.function_score or sa.search_after),
            "facet_passes": [[f for f in own if own[f] == o]
                             for o in dict.fromkeys(own.values())],
            "full_match": full,
            "full_match_tasks": ex._scatter_plan(
                [tree], None, "scores")[5] if full else None,
            "post_filter_fields": [f for f in sa.facets
                                   if f in sa.filters],
            "est_postings": est,
            "scatter_tasks": tasks,
            "scatter_columns": read_cols,
            "part_cache": held.stats() if held is not None else None,
            "term_dict": ex._term_dict().stats(),
        }

    def stats(self) -> dict:
        """Index statistics (the ES ``_stats``/``_cat/indices`` role):
        collection stats from meta, live/tombstoned doc counts, term
        dictionary size, and per-shard posting-block balance — the
        numbers an operator checks before blaming a slow query on
        skew. Read through pyarrow over the scatter layout: blocks from
        each postings file's Parquet footer, postings from its
        ``doc_count`` column — no Spark job."""
        import pyarrow.parquet as pq
        meta = dict(self.executor.meta)
        lay = self.executor._scatter_layout()
        S = int(meta.get("num_shards") or 0)
        # the FULL shard range: a completely empty shard must report 0,
        # or balance would read 1.0 for maximal skew
        shards = {sid: {"blocks": 0, "postings": 0} for sid in range(S)}
        files = lay["files"]
        for p in lay["parts"]:
            with files.fs.open_input_file(files.path("postings", p)) as f:
                pf = pq.ParquetFile(f)
                sh = shards[p % S]
                sh["blocks"] += pf.metadata.num_rows
                sh["postings"] += int(pf.read(columns=["doc_count"])
                                      .column(0).to_numpy().sum())
        post_counts = [s["postings"] for s in shards.values()] or [0]
        return {
            "n_docs": meta.get("n_docs"),
            "tombstoned_docs": (int(self.executor._driver_tables()
                                    .dead().size)
                                if files.tomb_paths else 0),
            "avgdl": meta.get("avgdl"),
            "num_shards": meta.get("num_shards"),
            "num_partitions": meta.get("num_partitions"),
            "layout_version": meta.get("layout_version"),
            "bigrams": bool(meta.get("bigrams")),
            "n_terms": self.executor._term_dict().n_terms(),
            "shards": shards,
            "postings_balance": (min(post_counts) / max(max(post_counts), 1)),
        }

    @cached_property
    def _meta_schema(self) -> StructType:
        """doc_meta's schema, as stored in meta.json."""
        return self.storage.doc_meta_schema()

    @property
    def doc_meta(self) -> DataFrame:
        """Live docs only: the parts and tombstones the Engine's reads
        see (``IndexStorage.live_doc_meta``). Only the reads that run
        in Spark build it: the full match (the Spark-side
        aggregations' input), ``export`` and the significant-terms
        background."""
        if self._doc_meta is None:
            lay = self.executor._scatter_layout()
            self._doc_meta = self.storage.live_doc_meta(
                self.spark, lay["uncommitted"], lay["files"].tomb_paths)
        return self._doc_meta

    def _facet_passes(self, sa: SearchArgs) -> dict:
        """Each terms facet over a string column, which the scatter
        counts, → the filter field its pass leaves out (None: every
        filter applies). A facet ignores its own field's filter, so
        facets share a pass exactly when they leave out the same one."""
        dtypes = self._dtypes()
        return {f: f if f in sa.filters else None for f in sa.facets
                if f not in sa.facet_interval
                and dtypes.get(f) == "string"}

    def search(self, args: dict | SearchArgs, with_total: bool = False,
               auth=None) -> SearchResult:
        sa = args if isinstance(args, SearchArgs) else parse_args(args)
        tree = self._plan(sa)
        # fields and the search_after cursor validate BEFORE any read (a
        # statically-invalid request must not cost a scan)
        known = {**self._dtypes(), "score": "double"}
        for f in [*sa.facets, *sa.facet_significant,
                  *(f for f, _ in sa.sort)]:
            if f not in known:
                raise ValueError(f"unknown doc_meta field {f!r}")
        for f, _ in sa.sort:
            if not comparable(known[f]):
                raise ValueError(f"cannot sort by doc_meta column {f!r} "
                                 f"of type {known[f]}")
        after = None
        if sa.search_after:
            if not sa.sort and not isinstance(tree, MatchAll):
                raise ValueError(
                    "search_after requires an explicit sort (or a "
                    "match-all _doc scan); score cursors are not "
                    "stable floats")
            if not sa.sort and len(sa.search_after) != 1:
                # _doc-order scan cursor: the single last doc_id seen
                # (reference id-sorted export continuation)
                raise ValueError(
                    "a _doc-order search_after cursor is the single "
                    "last doc_id; pass sort= for field cursors")
            after = keyset(self.spark, self._meta_schema,
                           [*sa.sort, ("doc_id", True)], sa.search_after)

        # hits and the total get every filter, each facet every filter
        # but its own field's (reference base.py:99-123). The ACL rides
        # in every spec, so an explicit filter: can never widen it.
        ex = self.executor
        spec = self._spec(auth, sa.filters, sa)
        # each group cuts its own top k, hydrated where it runs; the
        # global cut on ≤ groups×k rows runs here in pandas — no
        # exchange, no hydrate join, and the hits are a LocalRelation
        order = HitOrder(tuple((f, asc, known[f]) for f, asc in sa.sort),
                         sa.function_score and not isinstance(
                             tree, MatchAll), after)
        raw = ex.scatter_topk_hydrated(
            tree, sa.k, spec, self._meta_schema.names, order) \
            if sa.k else None
        hits = ex.local_frame(top_k(raw, sa.k, keys=order.keys()),
                              self._hits_schema())
        if sa.highlight:
            hits = self._highlight(hits, tree, sa)
        total = ex.scatter_count(tree, spec) if with_total else None

        # one facet pass per filter field its facets leave out; the
        # per-facet cuts run in pandas
        own = self._facet_passes(sa)
        partials = {o: ex.scatter_facets(
            tree, [f for f in own if own[f] == o], spec if o is None
            else self._spec(auth, {f: v for f, v in sa.filters.items()
                                   if f != o}, sa))
            for o in set(own.values())}
        branch = self._branches(tree, sa, auth)
        facets, facet_totals, significant = {}, {}, {}
        for f in sa.facets:
            if f in own:
                buckets = _facet_buckets(partials[own[f]], f)
                facets[f] = ex.local_frame(
                    buckets.head(_facet_size(sa, auth, f)), FACET_SCHEMA)
                if _facet_total_on(sa, auth, f):
                    facet_totals[f] = ex.local_frame(pd.DataFrame(
                        {"cardinality": [len(buckets)]}), TOTAL_SCHEMA)
                continue
            if f in sa.facet_interval:
                # A3 through the arg dialect: calendar buckets for
                # date/timestamp fields, width buckets for numerics
                facets[f] = histogram_facet(branch(f), f,
                                            sa.facet_interval[f])
            else:
                facets[f] = terms_facet(branch(f), f,
                                        _facet_size(sa, auth, f))
            if _facet_total_on(sa, auth, f):
                facet_totals[f] = cardinality(branch(f), f)
        for f in sa.facet_significant:
            # A5 through the arg dialect: matched docs as foreground,
            # the whole (live) collection as background
            significant[f] = significant_terms(
                branch(f), self.doc_meta, f, _facet_size(sa, auth, f))
        metrics_df = (metric_aggs(branch(), sa.metrics) if sa.metrics
                      else None)
        return SearchResult(hits=self._dehydrate(hits, sa),
                            total=total, facets=facets,
                            facet_totals=facet_totals,
                            significant=significant, metrics=metrics_df)

    def _branches(self, tree: Node, sa: SearchArgs, auth):
        """→ ``branch(facet=None)``: the full match, every match under
        the filters on fields no facet names with its doc_meta row and
        score, built in Spark on first use, under the filters of every
        faceted field but ``facet``. It is the input of the aggregations
        that stay in Spark."""
        post = [f for f in sa.facets if f in sa.filters]

        @cache
        def full() -> DataFrame:
            matched = self._matches(tree, self._spec(auth, {
                f: v for f, v in sa.filters.items() if f not in post}, sa))
            if sa.function_score and not isinstance(tree, MatchAll):
                # Q21 function_score (queries.py:227-277): HitOrder.boost
                matched = matched.withColumn("score", F.col("score")
                                             + F.sqrt(0.5 * F.col("doc_len")))
            return matched

        def branch(facet: str | None = None) -> DataFrame:
            fields = {f: sa.filters[f] for f in post if f != facet}
            return full().filter(meta_spec(
                self.spark, self._meta_schema, fields).column()) \
                if fields else full()
        return branch

    def _matches(self, tree: Node, spec: MetaSpec) -> DataFrame:
        """The live docs passing ``spec`` that ``tree`` matches: their
        doc_meta rows and scores (0.0 for a match-all), in Spark."""
        base = self.doc_meta.filter(spec.column())
        if isinstance(tree, MatchAll):
            return base.withColumn("score", F.lit(0.0))
        return base.join(self.executor.run(tree, k=None, spec=spec),
                         "doc_id")

    def msearch(self, queries: dict[str, dict | SearchArgs],
                k: int = 10, auth=None) -> DataFrame:
        """ES ``_msearch``, Spark-first: every query's tree evaluates in
        ONE scatter pass (shared postings read + decode cache per
        group), hydrated in-group; the per-query top-k cut runs on the
        gathered rows in pandas — no doc_meta join, no window. →
        DataFrame(doc_id, score, query_id, …doc_meta cols) with ≤ k
        rows per query — the batch-native result shape (the
        reference's msearch fans out N HTTP requests instead;
        openaleph_search uses it for checksum batch counts)."""
        trees = {}
        for qid, a in queries.items():
            sa = a if isinstance(a, SearchArgs) else parse_args(a)
            if sa.filters or sa.facets or sa.sort:
                raise ValueError(
                    "msearch batches pure scored queries; use search() "
                    f"for {qid!r} (filters/facets/sort present)")
            trees[str(qid)] = self._plan(sa)
        # ACL/tombstones restrict the per-group top-k itself
        # (filtering after the cut would drop hits without refill)
        spec = self._spec(auth)
        hit = self._hits_schema().fields
        raw = (self.executor.scatter_multi_hydrated(
            trees, k, spec, self._meta_schema.names) if trees else None)
        if raw is not None:
            raw = raw.rename(columns={"entity_id": "query_id"})
        return self.executor.local_frame(
            top_k(raw, k, by="query_id"), StructType([
                *hit[:2], StructField("query_id", StringType()),
                *hit[2:]]))

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
        out = self._matches(tree, self._spec(auth, sa.filters, sa)).drop(
            "score")
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
        spec = self._spec(auth, sa.filters, sa)
        return self.executor.scatter_count(tree, spec)

    # -- planning helpers -----------------------------------------------------
    def _hits_schema(self) -> StructType:
        """(doc_id, score, …doc_meta columns): the hit row shape."""
        return StructType([
            StructField("doc_id", LongType()),
            StructField("score", DoubleType()),
            *(f for f in self._meta_schema.fields if f.name != "doc_id")])

    def _dtypes(self) -> dict[str, str]:
        """doc_meta column → its type name, as ``DataFrame.dtypes``."""
        return {f.name: f.dataType.simpleString()
                for f in self._meta_schema.fields}

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
        filters are highlighted too (base.py:414-446). A match-all hit
        set is not highlighted."""
        if self.source_docs is None or isinstance(tree, MatchAll):
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
