"""Deduplication operators for training-data pipelines.

Four tiers, each a first-class distributed operator:

* exact         — sha256 hash-groupBy (one shuffle on the hash)
* MinHash + LSH — shingle → seeded-hash signature (higher-order array
                  exprs, JVM-side) → band buckets → bucket join →
                  exact-Jaccard verification of candidates
* SimHash       — 64-bit weighted-bit fingerprint (vectorized numpy in
                  mapInPandas), Hamming-banded pair generation
* n-gram Jaccard — exact shingle-inverted-index similarity join

Scale notes: every join here is an equi-join on a hash/bucket key, so
Catalyst shuffles on that key and AQE handles skew; stop-shingles (df
above a cap) can be dropped before the pair join to bound fan-out.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .textstats import tokens_col
from .util import spread


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_group_ids: int = 10_000) -> DataFrame:
    """Exact dedup: groups of byte-identical (post-trim) content.
    → (content_hash, n_docs, doc_ids sorted) for groups with n>1.

    ``n_docs`` is always the true group size; the materialized id list
    is capped at ``max_group_ids`` BEFORE aggregation (rank window, so
    the agg buffer itself stays bounded) — a degenerate group (millions
    of empty files) cannot build a row bigger than executor memory.
    Dedup decisions need the full COUNT but only a bounded sample of
    members (keep-first policies read doc_ids[0]). The window and the
    groupBy hash-partition on the same key, so Catalyst reuses one
    exchange."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.trim(F.col(text_col)), 256).alias("content_hash"))
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    ranked = base.withColumn("_rn", F.row_number().over(w))
    return (ranked
            .groupBy("content_hash")
            .agg(F.count("*").alias("n_docs"),
                 F.sort_array(F.collect_list(
                     F.when(F.col("_rn") <= max_group_ids,
                            F.col("doc_id")))).alias("doc_ids"))
            .filter(F.col("n_docs") > 1))


def _token_set(text_col: str):
    return F.array_distinct(tokens_col(F.col(text_col)))


def _shingle_set(text_col: str, n: int):
    """Distinct n-token shingles (the MinHash input — shingling keeps
    the signature space large even over a small vocabulary).

    Vectorized pandas UDF: a JVM higher-order-function formulation
    (transform+slice+array_join) is interpreted per element and
    measured ~20× slower on realistic batches.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def shingles(s: pd.Series) -> pd.Series:
        import re
        tok_re = re.compile(r"[a-z0-9_]+")
        out = []
        for text in s:
            toks = tok_re.findall((text or "").lower())
            if len(toks) < n:
                out.append([])
                continue
            # first-occurrence dedup (order is irrelevant to jaccard)
            out.append(list(dict.fromkeys(
                " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))))
        return pd.Series(out)

    # nondeterministic marker: every caller filters on the shingle
    # column (size > 0 / stop-shingle joins); without it Catalyst
    # pushes that filter below the rebalance exchange and DUPLICATES
    # the UDF — measured 2 evaluations, the first on the un-rebalanced
    # (often single-partition) input, ~4× the stage cost
    return shingles.asNondeterministic()(text_col)


def _md5_low64(flat: np.ndarray) -> np.ndarray:
    """Portable 64-bit string hash: little-endian bytes 8..16 of md5
    (== DuckDB ``md5_number_lower``) — oracle-checkable across engines.
    Hashes each UNIQUE string once (factorize first): per-batch unique
    count ≪ token count, so the Python loop stays off the hot path."""
    import hashlib
    codes, uniq = pd.factorize(pd.Series(flat), sort=False)
    hu = np.empty(len(uniq), dtype=np.uint64)
    for i, t in enumerate(uniq):
        hu[i] = int.from_bytes(
            hashlib.md5(str(t).encode()).digest()[8:], "little")
    return hu[codes]


def _base_hash64(flat: np.ndarray, key: str, hash_fn: str) -> np.ndarray:
    """``fast`` = pd.util.hash_array (vectorized, engine-internal);
    ``md5`` = portable md5-low64 (SQL-expressible, oracle-checkable)."""
    if hash_fn == "md5":
        return _md5_low64(flat)
    return pd.util.hash_array(flat, hash_key=key)


def _minhash_bands(num_hashes: int, bands: int, seed: int = 7,
                   hash_fn: str = "fast"):
    """The one MinHash signature routine: → fn(toks) over a Series of
    shingle arrays → (nz mask of the docs with shingles, their
    flattened shingles, their shingle counts, uint64 band hashes
    docs×bands), or None when no doc has a shingle.

    Vectorized: one base-hash pass over the flattened shingles,
    ``num_hashes`` universal hashes via odd-multiplier affine maps
    (natural uint64 wraparound), per-doc minima via
    ``np.minimum.reduceat``, FNV-style band folding. (A nested JVM
    higher-order-function formulation is ~50× slower — HOF lambdas are
    interpreted, not codegen'd.)
    """
    rows = num_hashes // bands
    rs = np.random.RandomState(seed)
    A = ((rs.randint(1, 2**62, size=num_hashes).astype(np.uint64) << 1)
         | np.uint64(1))
    Bv = rs.randint(0, 2**62, size=num_hashes).astype(np.uint64)

    def band_hashes(toks: pd.Series):
        counts = toks.str.len().fillna(0).astype(np.int64).to_numpy()
        nz = counts > 0
        if not nz.any():
            return None
        cnz = counts[nz]
        flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in toks[nz]])
        with np.errstate(over="ignore"):
            base = _base_hash64(flat, "minhash000000000", hash_fn)
            H = base[:, None] * A[None, :] + Bv[None, :]
            sig = np.minimum.reduceat(H, np.cumsum(cnz) - cnz, axis=0)
            bv = sig.reshape(-1, bands, rows)
            bh = np.full(bv.shape[:2], 14695981039346656037,
                         dtype=np.uint64)
            for r in range(rows):
                bh = (bh ^ bv[:, :, r]) * np.uint64(1099511628211)
        return nz, flat, cnz, bh
    return band_hashes


def _band_hash_batches(num_hashes: int, bands: int, seed: int = 7,
                       hash_fn: str = "fast"):
    """mapInPandas fn: (doc_id, _toks) → (doc_id, band, bh) rows, the
    band hashes of :func:`_minhash_bands`."""
    band_hashes = _minhash_bands(num_hashes, bands, seed, hash_fn)

    def fn(it):
        for pdf in it:
            got = band_hashes(pdf["_toks"])
            if got is None:
                yield pd.DataFrame({"doc_id": [], "band": [], "bh": []})
                continue
            nz, _, _, bh = got
            yield pd.DataFrame({
                "doc_id": np.repeat(pdf["doc_id"].to_numpy()[nz], bands),
                "band": np.tile(np.arange(bands, dtype=np.int32),
                                int(nz.sum())),
                "bh": bh.reshape(-1).astype(np.int64)})
    return fn


def _minhash_doc_batches(num_hashes: int, bands: int, seed: int = 7,
                         hash_fn: str = "fast"):
    """mapInPandas fn: (doc_id, _toks) → ONE row per doc carrying both
    LSH products — (doc_id, bh array<long>[bands], _h sorted digest
    array<long>). The band hashes come from :func:`_minhash_bands`,
    as :func:`_band_hash_batches`'s do; the verify digests are
    engine-internal 64-bit hashes of the shingles (the oracle compares
    JACCARD VALUES, which are hash-invariant). Fusing both products
    into one kernel means the shingle strings are flattened/hashed in
    one task and NEVER persist — only the compact int products do."""
    band_hashes = _minhash_bands(num_hashes, bands, seed, hash_fn)

    def fn(it):
        for pdf in it:
            got = band_hashes(pdf["_toks"])
            if got is None:
                yield pd.DataFrame({
                    "doc_id": pd.Series(dtype=np.int64),
                    "bh": pd.Series(dtype=object),
                    "_h": pd.Series(dtype=object)})
                continue
            nz, flat, cnz, bh = got
            dig = pd.util.hash_array(
                flat, hash_key="verify0000000000").view(np.int64)
            parts = np.split(dig, np.cumsum(cnz)[:-1])
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(np.int64)[nz],
                "bh": pd.Series(list(bh.astype(np.int64)), dtype=object),
                "_h": pd.Series([np.sort(p) for p in parts],
                                dtype=object)})
    return fn


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 64,
                      bands: int = 16, threshold: float = 0.9,
                      shingle: int = 3) -> DataFrame:
    """Near-duplicate pairs via shingle→MinHash banding, verified by
    exact Jaccard on the shingle sets.

    LSH recall at j ≥ 0.9 with 16 bands × 4 rows: miss probability
    (1 − 0.9⁴)¹⁶ ≈ 3e-4 per pair; identical sets are always caught.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    base = (spread(df, 1)
            .select(F.col(id_col).alias("doc_id"),
                      _shingle_set(text_col, shingle).alias("_toks"))
            .filter(F.size("_toks") > 0))
    # ONE fused kernel computes band hashes + verify digests per doc;
    # only its compact int output persists (the earlier shape persisted
    # the raw shingle-string arrays and ran two kernels over them —
    # one full extra pass + object-array storage for nothing).
    # MEMORY_AND_DISK spills instead of OOMing at 100-TB scale, and
    # Spark's ContextCleaner unpersists when the plan is released
    from pyspark import StorageLevel
    sig = base.mapInPandas(
        _minhash_doc_batches(num_hashes, bands),
        "doc_id long, bh array<long>, _h array<long>").persist(
        StorageLevel.MEMORY_AND_DISK)
    # banding rows via a JVM posexplode of the per-doc band array —
    # no second Python stage; pos IS the band index
    banded = sig.select("doc_id", F.posexplode("bh").alias("band", "bh"))
    # candidate pairs: docs sharing any (band, band-hash) bucket —
    # an equi-join Catalyst shuffles on (band, bh); AQE splits skew.
    # SHUFFLE_HASH: equal-size sides, sorting both (SMJ) buys nothing;
    # the hinted-side hash build stays per-partition-sized (no
    # broadcast, AQE skew split still applies) — measured 1.4→0.93 s
    # with the three hints + the persist above
    right = banded.select(F.col("doc_id").alias("doc_id_b"),
                          "band", "bh")
    cand = (banded.hint("SHUFFLE_HASH").join(right, ["band", "bh"])
            .filter(F.col("doc_id") < F.col("doc_id_b"))
            .select(F.col("doc_id").alias("id_a"),
                    F.col("doc_id_b").alias("id_b"))
            .distinct()
            .hint("SHUFFLE_HASH"))  # verify joins: build the pair side
    # exact verification: jaccard over 64-bit shingle DIGESTS — the
    # distinct-count arithmetic is identical to raw shingles (distinct
    # strings ↔ distinct hashes) while the two verify-join shuffles
    # move 8-byte ints instead of ~8·shingle-length strings
    toks = sig.select("doc_id", "_h")
    verified = (cand
                .join(toks.select(F.col("doc_id").alias("id_a"),
                                  F.col("_h").alias("toks_a")), "id_a")
                # re-hint: a hint does not survive through a join, so
                # without it the second verify join reverts to SMJ and
                # sorts the digest arrays
                .hint("SHUFFLE_HASH")
                .join(toks.select(F.col("doc_id").alias("id_b"),
                                  F.col("_h").alias("toks_b")), "id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("toks_a", "toks_b")))
                .withColumn("jaccard", F.round(
                    F.col("inter") / (F.size("toks_a") + F.size("toks_b")
                                      - F.col("inter")), 6)))
    return (verified.filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def _simhash_batches(hash_fn: str = "fast"):
    """mapInPandas fn: 64-bit SimHash over token sets, fully vectorized
    — one flat hash pass + np.add.at bit voting per batch."""
    shifts = np.arange(64, dtype=np.uint64)

    def fn(it):
        for pdf in it:
            n = len(pdf)
            counts = pdf["_toks"].str.len().fillna(0).astype(
                np.int64).to_numpy()
            sims = np.zeros(n, dtype=np.uint64)
            nz = counts > 0
            if nz.any():
                flat = np.concatenate(
                    [np.asarray(t, dtype=object) for t in pdf["_toks"][nz]])
                doc_idx = np.repeat(np.flatnonzero(nz), counts[nz])
                h = _base_hash64(flat, "simhash000000000", hash_fn)
                bits = ((h[:, None] >> shifts)
                        & np.uint64(1)).astype(np.int64)
                votes = np.zeros((n, 64), dtype=np.int64)
                np.add.at(votes, doc_idx, 2 * bits - 1)
                sims = ((votes > 0).astype(np.uint64) << shifts).sum(
                    axis=1, dtype=np.uint64)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(),
                "simhash": sims.astype(np.int64)})
    return fn


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", hash_fn: str = "fast") -> DataFrame:
    """→ (doc_id, simhash long)."""
    base = spread(df, 1).select(F.col(id_col).alias("doc_id"),
                                _token_set(text_col).alias("_toks"))
    return base.mapInPandas(_simhash_batches(hash_fn),
                            "doc_id long, simhash long")


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  hash_fn: str = "fast") -> DataFrame:
    """Near-dup pairs: Hamming(simhash) ≤ max_hamming, found by banding
    the 64 bits into 4 × 16-bit chunks (pigeonhole: any pair within
    Hamming 3 shares ≥1 exact chunk) and verifying with bit_count."""
    from pyspark import StorageLevel
    # sh feeds both sides of the chunk self-join — persist so the
    # token+simhash UDF lineage evaluates once (ContextCleaner
    # unpersists when the plan is released)
    sh = simhash(df, id_col, text_col, hash_fn).persist(
        StorageLevel.MEMORY_AND_DISK)
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.expr(
            "transform(sequence(0, 3), "
            "c -> struct(c as chunk, "
            "shiftright(simhash, c * 16) & 65535 as v))"
        )).alias("ch"))
    right = chunks.select(F.col("doc_id").alias("id_b"),
                          F.col("simhash").alias("sim_b"),
                          F.col("ch").alias("ch_b"))
    cand = (chunks.join(right, (chunks["ch"] == right["ch_b"])
                        & (chunks["doc_id"] < right["id_b"]))
            .select(F.col("doc_id").alias("id_a"), "id_b",
                    F.col("simhash").alias("sim_a"), "sim_b")
            .distinct())
    return (cand.withColumn(
                "hamming",
                F.expr("bit_count(sim_a ^ sim_b)").cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        stop_shingle_df: int | None = 1000) -> DataFrame:
    """Exact n-token-shingle Jaccard similarity join via a shingle
    inverted index: explode shingles → self-join on shingle → count
    common → |A∩B| / (|A|+|B|−|A∩B|).

    ``stop_shingle_df`` drops shingles appearing in more than that many
    docs before the pair join (bounds the quadratic fan-out on hot
    shingles — the same role as hot-term salting in the index build).
    Default 1000 caps any shingle's pair fan-out at ~500k; pass None to
    disable (exact similarity join, quadratic on hot shingles).

    Shingling runs in the vectorized pandas UDF (_shingle_set) — the
    JVM higher-order-function formulation is interpreted per element
    and measured 20-50x slower (CLAUDE.md perf rule).
    """
    from pyspark import StorageLevel
    base = (spread(df, 1)
            .select(F.col(id_col).alias("doc_id"),
                    _shingle_set(text_col, n).alias("shingles"))
            .filter(F.size("shingles") > 0)
            # four consumers (sizes×2 joins, inverted index, hot set):
            # persist so the shingle UDF lineage evaluates once
            .persist(StorageLevel.MEMORY_AND_DISK))
    sizes = base.select("doc_id", F.size("shingles").alias("n_sh"))
    inv = base.select("doc_id", F.explode("shingles").alias("sh"))
    if stop_shingle_df is not None:
        # no broadcast hint: the hot-shingle list is usually tiny but
        # its size is corpus-dependent (a 100-TB web crawl can have a
        # huge hot set) — let AQE pick broadcast vs shuffle from the
        # measured size instead of forcing it onto the driver
        hot = (inv.groupBy("sh").count()
               .filter(F.col("count") > stop_shingle_df).select("sh"))
        inv = inv.join(hot, "sh", "left_anti")
    right = inv.select(F.col("doc_id").alias("id_b"), F.col("sh"))
    common = (inv.alias("l")
              .join(right.alias("r"),
                    (F.col("l.sh") == F.col("r.sh"))
                    & (F.col("l.doc_id") < F.col("r.id_b")))
              .groupBy(F.col("l.doc_id").alias("id_a"), F.col("r.id_b"))
              .agg(F.count("*").alias("inter")))
    return (common
            .join(sizes.withColumnRenamed("doc_id", "id_a")
                       .withColumnRenamed("n_sh", "n_a"), "id_a")
            .join(sizes.withColumnRenamed("doc_id", "id_b")
                       .withColumnRenamed("n_sh", "n_b"), "id_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b")
                                  - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b",
                       max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id),
    cluster_id = the MIN doc id of the component (the canonical
    representative a training-data dedup keeps).

    The last step of every dedup pipeline: pair generators (MinHash /
    SimHash / Jaccard / embedding) emit edges; transitive closure
    groups them so "keep one per cluster" is a groupBy. Min-label
    propagation with POINTER JUMPING (label ← label-of-label each
    round) converges in O(log diameter) join rounds — near-dup
    components are short chains in practice, and each round is two
    shuffles on (id, lbl) pairs only, never on document payloads.
    Each round's labels are LINEAGE-TRUNCATED (``localCheckpoint``) —
    the self-referencing joins would otherwise grow the logical plan
    ~3× per round and exhaust the driver during analysis long before
    any data-size limit (for failure-resilient truncation on a long
    cluster job, set a ``spark.sparkContext.setCheckpointDir`` and
    swap in ``checkpoint``). Deterministic for any input."""
    from pyspark import StorageLevel
    edges = pairs.select(F.col(id_a).cast("long").alias("a"),
                         F.col(id_b).cast("long").alias("b"))
    edges = (edges.union(edges.select(F.col("b").alias("a"),
                                      F.col("a").alias("b")))
             .distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))
    labels = (edges.select(F.col("a").alias("id"))
              .distinct()
              .withColumn("lbl", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges["b"] == labels["id"])
                   .groupBy(F.col("a").alias("id"))
                   .agg(F.min("lbl").alias("nlbl")))
        new = (labels.join(nbr_min, "id", "left")
               .select("id", F.least("lbl", F.coalesce("nlbl", "lbl"))
                       .alias("lbl")))
        # pointer jumping: adopt the label's own (possibly smaller) label
        lbl_of_lbl = new.select(F.col("id").alias("lbl"),
                                F.col("lbl").alias("lbl2"))
        new = (new.join(lbl_of_lbl, "lbl", "left")
               .select("id", F.least("lbl", F.coalesce("lbl2", "lbl"))
                       .alias("lbl"))
               .localCheckpoint(eager=True))
        changed = (new.join(labels.withColumnRenamed("lbl", "old"), "id")
                   .filter(F.col("lbl") != F.col("old")).count())
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def contamination_flags(df: DataFrame, eval_df: DataFrame, n: int = 8,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        eval_text_col: str | None = None) -> DataFrame:
    """Eval-set decontamination: flag every doc sharing ≥1 n-token
    shingle with the eval/benchmark set (the n-gram-overlap rule LLM
    training pipelines use before training). → df + ``contaminated``
    boolean + ``eval_hits`` (matching shingle count).

    Scale shape: the eval side is the SMALL side — its distinct
    shingles hash-join against the exploded training shingles and
    training text never shuffles when the eval set is broadcastable.
    No explicit broadcast hint: Catalyst/AQE broadcasts under the
    configured threshold from the measured size, so a surprise
    multi-GB eval set degrades to a shuffle join instead of OOMing
    executors/driver."""
    ev_col = eval_text_col or text_col
    ev = (eval_df.select(_shingle_set(ev_col, n).alias("_sh"))
          .select(F.explode("_sh").alias("sh")).distinct())
    tr = (df.select(F.col(id_col).alias("_id"),
                    _shingle_set(text_col, n).alias("_sh"))
          .select("_id", F.explode("_sh").alias("sh")))
    hits = (tr.join(ev, "sh")
            .groupBy("_id").agg(F.count("*").alias("eval_hits")))
    return (df.join(hits, df[id_col] == hits["_id"], "left")
            .drop("_id")
            .withColumn("eval_hits",
                        F.coalesce("eval_hits", F.lit(0)).cast("long"))
            .withColumn("contaminated", F.col("eval_hits") > 0))


def _window_hash_batches(window: int, id_col: str, text_col: str):
    """mapInPandas kernel: emit one (doc_id, pos, wh) row per w-token
    rolling window. Fully vectorized — tokens hash once per batch
    (``pd.util.hash_array``), then the window key is a polynomial
    combine of w shifted slices in wrapping uint64 arithmetic, so the
    cost is O(tokens · w) numpy ops with no per-window Python."""
    B = np.uint64(1099511628211)  # FNV-1a prime, odd → bijective mult

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            toks = (pdf[text_col].fillna("").str.lower()
                    .str.split(r"[^a-z0-9_]+", regex=True))
            flat = toks.explode()
            flat = flat[flat.notna() & (flat != "")]
            if flat.size < window:
                continue
            row = flat.index.to_numpy(np.int64)
            th = pd.util.hash_array(flat.to_numpy(object))
            n_win = th.size - window + 1
            # window valid iff it does not cross a doc boundary
            valid = row[:n_win] == row[window - 1:]
            if not valid.any():
                continue
            acc = th[:n_win].copy()
            for j in range(1, window):
                acc = acc * B + th[j:n_win + j]
            # token position within its own doc
            starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]])
            counts = np.diff(np.append(starts, row.size))
            pos = np.arange(row.size, dtype=np.int64) \
                - np.repeat(starts, counts)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy()[row[:n_win][valid]],
                "pos": pos[:n_win][valid].astype(np.int32),
                "wh": acc[valid].view(np.int64)})
    return fn


def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", window: int = 5,
                    min_count: int = 2) -> DataFrame:
    """Exact-substring duplicate span detection (the dedup family of
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") re-expressed for Spark: instead of a suffix
    array, emit every ``window``-token rolling hash, count each hash
    corpus-wide, and merge each doc's duplicated windows into maximal
    token ranges. → (doc_id, span_start, span_end, span_tokens): every
    maximal [span_start, span_end) token range fully covered by
    windows whose exact token sequence occurs ≥ ``min_count`` times
    across the corpus — the ranges a pipeline cuts out of the
    training text.

    Scale shape: the windows relation is ~1 row per token (20 B each)
    and is deliberately NOT persisted — it is recomputed for the
    count branch and the join branch (CPU-cheap vectorized kernel)
    rather than spilling a corpus-sized cache to disk. Both the
    count and the join-back shuffle on the 8-byte window hash (AQE
    handles hot-hash skew); the island merge shuffles once on doc_id
    and the final groupBy reuses that exchange. Window hashes are
    64-bit polynomial combines of per-token hashes — equal token
    sequences always collide-equal, unequal ones collide with
    probability ~n²/2⁶⁵ (document-level false merges only; no span
    is ever missed)."""
    base = spread(df, 1).select(F.col(id_col).alias("doc_id"),
                                F.col(text_col).alias("_text"))
    wins = base.mapInPandas(
        _window_hash_batches(window, "doc_id", "_text"),
        schema="doc_id long, pos int, wh long")
    dup = (wins.groupBy("wh").agg(F.count("*").alias("_c"))
           .filter(F.col("_c") >= min_count).select("wh"))
    hits = wins.join(dup, "wh").select("doc_id", "pos")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.lag("pos").over(w_ord).isNull()
                 | (F.col("pos") > F.lag("pos").over(w_ord) + window),
                 1).otherwise(0)
    island = (F.sum(brk).over(
        w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (hits.withColumn("_island", island)
            .groupBy("doc_id", "_island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + window).alias("span_end"))
            .select("doc_id", "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .alias("span_tokens")))



def cut_spans_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch kernel behind :func:`cut_spans` (module-level so the
    property suite can fuzz the delta-array mask without Spark).
    Expects columns ``doc_id``, ``_text``, ``_rg`` (sorted list of
    {s, e} ranges or None)."""
    pdf = pdf.reset_index(drop=True)
    ex = (pdf["_text"].fillna("").str.lower()
          .str.split(r"[^a-z0-9_]+", regex=True).explode())
    ex = ex[ex.notna() & (ex != "")]
    row = ex.index.to_numpy(np.int64)
    flat = ex.to_numpy(object)
    lens = np.bincount(row, minlength=len(pdf)).astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    total = int(offs[-1])
    delta = np.zeros(total + 1, dtype=np.int64)
    # span lists are small (spans, not tokens); the only Python loop
    # is over them, never over the token stream
    for i, rg in enumerate(pdf["_rg"]):
        if rg is None or (isinstance(rg, float) and pd.isna(rg)):
            continue
        for r in rg:
            s = min(max(int(r["s"]), 0), lens[i])
            e = min(max(int(r["e"]), 0), lens[i])
            if e > s:
                delta[offs[i] + s] += 1
                delta[offs[i] + e] -= 1
    keep = ~(np.cumsum(delta[:-1]) > 0)
    kept_row = row[keep]
    kept = pd.Series(flat[keep]).groupby(kept_row).agg(" ".join)
    kept_n = np.bincount(kept_row, minlength=len(pdf))
    return pd.DataFrame({
        "doc_id": pdf["doc_id"],
        "text_deduped": kept.reindex(
            np.arange(len(pdf))).fillna("").to_numpy(),
        "n_tokens": lens,
        "n_tokens_removed": lens - kept_n})


def _cut_spans_batches():
    def fn(it):
        for pdf in it:
            if len(pdf):
                yield cut_spans_kernel(pdf)
    return fn


def cut_spans(df: DataFrame, spans: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Apply :func:`duplicate_spans` output to the corpus: remove the
    marked token ranges from each doc's normalized token stream. →
    (doc_id, text_deduped, n_tokens, n_tokens_removed). Which spans
    to cut is the CALLER's policy — pass the spans DataFrame as-is to
    cut every duplicated occurrence, or pre-filter it (e.g. keep the
    min-doc_id occurrence per duplicate group) for keep-one policies.

    Cutting happens in analyzer-normalized token space (lowercased
    word tokens — the same stream the spans were detected on), so
    ``text_deduped`` is the space-joined kept tokens, not raw bytes
    with original whitespace. That is the representation a training
    pipeline tokenizes anyway, and it keeps the operator a vectorized
    numpy mask (flat delta-array + cumsum over the batch's token
    stream) instead of per-row offset bookkeeping.

    Scale shape: spans are grouped per doc (one shuffle on doc_id,
    bounded rows — spans, not tokens), broadcast-joined or
    shuffle-joined to the docs by AQE's size estimate, and the mask
    kernel is one mapInPandas pass over the text."""
    ranges = (spans.groupBy(F.col(id_col).alias("_rid"))
              .agg(F.sort_array(F.collect_list(
                  F.struct(F.col("span_start").alias("s"),
                           F.col("span_end").alias("e")))).alias("_rg")))
    base = (spread(df, 1)
            .select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_text"))
            .join(ranges, F.col("doc_id") == F.col("_rid"), "left")
            .drop("_rid"))

    return base.mapInPandas(
        _cut_spans_batches(),
        schema=("doc_id long, text_deduped string, "
                "n_tokens long, n_tokens_removed long"))


def boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", min_docs: int = 3,
                      min_chars: int = 10) -> DataFrame:
    """Corpus-frequency line statistics (the RefinedWeb/CCNet
    line-dedup signal): → (line_hash, n_docs, n_occurrences, sample)
    for every distinct (trimmed) line of ≥ ``min_chars`` chars that
    appears in ≥ ``min_docs`` distinct docs — license headers,
    nav/footer boilerplate, generated-code banners.

    Scale shape: explode lines → (line_hash, doc) groupBy →
    line_hash groupBy; both partial-aggregated, shuffle payloads are
    (16-byte hash, counts) rows. ``sample`` keeps one representative
    line text via ``min`` (deterministic), so the output is
    human-auditable without a join back to the corpus."""
    lines = (df.select(F.col(id_col).alias("_doc"),
                       F.explode(F.split(F.col(text_col), "\n"))
                       .alias("_raw"))
             .select("_doc", F.trim(F.col("_raw")).alias("line"))
             .filter(F.length("line") >= min_chars))
    per_doc = (lines.groupBy(F.md5("line").alias("line_hash"))
               .agg(F.countDistinct("_doc").alias("n_docs"),
                    F.count("*").alias("n_occurrences"),
                    F.min("line").alias("sample")))
    return per_doc.filter(F.col("n_docs") >= min_docs)


def strip_boilerplate_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch kernel behind :func:`strip_boilerplate_lines` (module
    level so tests can fuzz it without Spark). Expects columns
    ``doc_id``, ``_text``, ``_rm`` (sorted int line positions to
    remove, or None). NULL text behaves like empty text (one empty
    line, kept)."""
    pdf = pdf.reset_index(drop=True)
    ex = pdf["_text"].fillna("").str.split("\n").explode()
    row = ex.index.to_numpy(np.int64)
    flat = ex.to_numpy(object)
    lens = np.bincount(row, minlength=len(pdf)).astype(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    keep = np.ones(int(offs[-1]), dtype=bool)
    # the only Python loop is over docs-with-hits; position lists are
    # boilerplate-hit sized, never line-stream sized
    for i, rm in enumerate(pdf["_rm"]):
        if rm is None or (isinstance(rm, float) and pd.isna(rm)):
            continue
        pos = np.asarray(rm, dtype=np.int64)
        keep[offs[i] + pos[pos < lens[i]]] = False
    kept_row = row[keep]
    kept = pd.Series(flat[keep]).groupby(kept_row).agg("\n".join)
    kept_n = np.bincount(kept_row, minlength=len(pdf))
    return pd.DataFrame({
        "doc_id": pdf["doc_id"],
        "text_clean": kept.reindex(
            np.arange(len(pdf))).fillna("").to_numpy(),
        "n_lines": lens,
        "n_lines_removed": lens - kept_n})


def _strip_boiler_batches():
    def fn(it):
        for pdf in it:
            if len(pdf):
                yield strip_boilerplate_kernel(pdf)
    return fn


def strip_boilerplate_broadcast_kernel(pdf: pd.DataFrame,
                                       hashes: frozenset
                                       ) -> pd.DataFrame:
    """Batch kernel behind the broadcast path of
    :func:`strip_boilerplate_lines` (module level so tests can fuzz
    it without Spark). Hashes each (space-trimmed, matching Spark's
    ``F.trim``) line with md5 inside the Arrow batch and masks
    members of ``hashes``. NULL text behaves like empty text."""
    import hashlib

    pdf = pdf.reset_index(drop=True)
    ex = pdf["_text"].fillna("").str.split("\n").explode()
    row = ex.index.to_numpy(np.int64)
    flat = ex.to_numpy(object)
    lens = np.bincount(row, minlength=len(pdf)).astype(np.int64)
    if len(flat) and hashes:
        keep = np.fromiter(
            (hashlib.md5(s.strip(" ").encode()).hexdigest()
             not in hashes for s in flat),
            dtype=bool, count=len(flat))
    else:
        keep = np.ones(len(flat), dtype=bool)
    kept_row = row[keep]
    kept = pd.Series(flat[keep]).groupby(kept_row).agg("\n".join)
    kept_n = np.bincount(kept_row, minlength=len(pdf))
    return pd.DataFrame({
        "doc_id": pdf["doc_id"],
        "text_clean": kept.reindex(
            np.arange(len(pdf))).fillna("").to_numpy(),
        "n_lines": lens,
        "n_lines_removed": lens - kept_n})


def strip_boilerplate_lines(df: DataFrame, boiler: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            max_broadcast_lines: int = 2_000_000
                            ) -> DataFrame:
    """Remove every line whose hash is in ``boiler`` (the output of
    :func:`boilerplate_lines`, pre-filtered to the caller's removal
    policy) from each doc. → (doc_id, text_clean, n_lines,
    n_lines_removed). Line identity = trimmed text, removal keeps
    original (untrimmed) non-boilerplate lines joined by ``\\n``.
    Every input doc appears in the output — NULL text yields
    ``text_clean = ''`` (same as empty text).

    Shape: the boilerplate set is VOCABULARY-sized (distinct lines
    repeated across ≥ min_docs docs — license headers, banners), so
    its hashes are collected and broadcast, and one mapInPandas pass
    over the docs hashes + masks lines in place: the corpus text is
    scanned once and NEVER shuffles, not even to local shuffle files
    (plan asserted in tests/test_plans.py). If the set exceeds
    ``max_broadcast_lines`` (degenerate corpus), it falls back to the
    join shape: (doc_id, pos, line_hash) stream ⋈ boiler → per-doc
    hit positions joined back to the docs — the text then takes one
    exchange, still never the pre-r4 two."""
    base = (spread(df, 1)
            .select(F.col(id_col).alias("doc_id"),
                    F.col(text_col).alias("_text")))
    # id dtype follows the caller's id column (string ids must not be
    # silently cast to long by a hard-coded schema)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (f"doc_id {id_type}, text_clean string, "
                  "n_lines long, n_lines_removed long")
    # count BEFORE collecting: a degenerate corpus (millions of
    # distinct 'boilerplate' lines) must choose the join fallback
    # without first materializing the oversized set on the driver
    if boiler.count() <= max_broadcast_lines:
        hash_rows = boiler.select("line_hash").collect()
        hset = frozenset(r[0] for r in hash_rows)
        bc = df.sparkSession.sparkContext.broadcast(hset)

        def fn(it):
            for pdf in it:
                if len(pdf):
                    yield strip_boilerplate_broadcast_kernel(
                        pdf, bc.value)

        return base.mapInPandas(fn, schema=out_schema)

    pos_hash = (df.select(F.col(id_col).alias("doc_id"),
                          F.posexplode(F.split(F.col(text_col), "\n"))
                          .alias("pos", "_raw"))
                .select("doc_id", "pos",
                        F.md5(F.trim(F.col("_raw"))).alias("line_hash")))
    rm = (pos_hash.join(boiler.select("line_hash"), "line_hash")
          .groupBy(F.col("doc_id").alias("_rid"))
          .agg(F.sort_array(F.collect_list("pos")).alias("_rm")))
    joined = (base.join(rm, F.col("doc_id") == F.col("_rid"), "left")
              .drop("_rid"))
    return joined.mapInPandas(_strip_boiler_batches(),
                              schema=out_schema)


def keep_one_per_cluster(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """The end-to-end 'drop near-duplicates' call: near-dup ``pairs``
    (from minhash_lsh_pairs / simhash_pairs / ngram_jaccard_pairs /
    embedding_near_dup_pairs) → connected components → keep only the
    canonical (min-id) doc of each cluster. → df minus every
    non-canonical duplicate.

    Shape: clustering shuffles (id, label) pairs only; the final cut
    is one left-anti join of df against the non-canonical id set
    (cluster members minus representatives — near-dup count sized,
    tiny next to the corpus)."""
    clusters = duplicate_clusters(pairs)
    losers = (clusters
              .filter(F.col("doc_id") != F.col("cluster_id"))
              .select(F.col("doc_id").alias("_loser")))
    return df.join(losers, df[id_col] == F.col("_loser"), "left_anti")
