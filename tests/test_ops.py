"""Training-data ops tests: dedup / similarity / textstats,
checked against independent numpy or DuckDB computations."""
import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------- dedup --
def test_exact_duplicates(spark):
    from openaleph_search_spark.ops.dedup import exact_duplicates
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, " a b c ")],
        "doc_id long, text string")
    out = exact_duplicates(df).collect()
    assert len(out) == 1
    assert out[0]["doc_ids"] == [1, 2, 4]  # trim-normalized


def test_minhash_lsh_finds_near_dups(spark):
    from openaleph_search_spark.ops.dedup import minhash_lsh_pairs
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "completely different words here today friend"),
         (4, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(df, threshold=0.6).collect()}
    assert out[(1, 2)] == 1.0          # identical shingle set
    # 1 has trigram shingles {abg, bgd}; 4 adds {gde} → j = 2/3
    assert (1, 4) in out and abs(out[(1, 4)] - 2 / 3) < 1e-5
    assert not any(3 in p for p in out)


def test_minhash_vs_exact_jaccard_oracle(spark, documents):
    """On the real sf0.001 documents: LSH-verified pairs must equal the
    exact all-pairs trigram-shingle jaccard at the same threshold
    (recall certain in the j≈1 region)."""
    from openaleph_search_spark.ops.dedup import minhash_lsh_pairs
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(documents, threshold=0.95).collect()}
    import duckdb
    con = duckdb.connect()
    exact = con.sql(f"""
        with t as (select doc_id, string_split(text, ' ') tt
                   from '{SF}/documents.parquet'
                   where len(string_split(text, ' ')) >= 3),
        d as (select doc_id,
                     list_distinct(list_transform(range(1, len(tt) - 1),
                         i -> array_to_string(tt[i:i+2], ' '))) toks
              from t)
        select a.doc_id ia, b.doc_id ib,
               round(len(list_intersect(a.toks, b.toks))::double /
               (len(a.toks) + len(b.toks)
                - len(list_intersect(a.toks, b.toks))), 6) j
        from d a join d b on a.doc_id < b.doc_id
        where len(list_intersect(a.toks, b.toks))::double /
              (len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks))) >= 0.95
    """).fetchall()
    want = {(r[0], r[1]): r[2] for r in exact}
    assert got == want


def test_fused_minhash_kernel_matches_band_kernel(spark, documents):
    """The fused band+digest kernel (_minhash_doc_batches) must emit
    band hashes bit-identical to the standalone _band_hash_batches it
    replaced in minhash_lsh_pairs — posexplode(bh) with pos as the
    band index reproduces the (doc_id, band, bh) rows exactly — and
    digests that reproduce every pairwise jaccard of the raw shingle
    sets (guards the round-6 kernel fusion)."""
    import pandas as pd
    from openaleph_search_spark.ops.dedup import (
        _band_hash_batches, _minhash_doc_batches, _shingle_set)
    toks = (documents.limit(64)
            .select("doc_id", _shingle_set("text", 3).alias("_toks"))
            .filter(F.size("_toks") > 0).toPandas())
    legacy = pd.concat(list(_band_hash_batches(64, 16)(iter([toks]))))
    fused = pd.concat(list(_minhash_doc_batches(64, 16)(iter([toks]))))
    got = {(d, b): h
           for d, bh in zip(fused["doc_id"], fused["bh"])
           for b, h in enumerate(bh)}
    want = {(d, b): h for d, b, h in zip(
        legacy["doc_id"], legacy["band"], legacy["bh"])}
    assert got == want
    # digests: hash-space jaccard == raw shingle-set jaccard per pair
    sets = dict(zip(toks["doc_id"],
                    (set(t) for t in toks["_toks"])))
    digs = dict(zip(fused["doc_id"],
                    (set(h.tolist()) for h in fused["_h"])))
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ja = (len(sets[a] & sets[b])
                  / len(sets[a] | sets[b]))
            jd = (len(digs[a] & digs[b])
                  / len(digs[a] | digs[b]))
            assert abs(ja - jd) < 1e-12


def test_simhash_identical_and_pairs(spark):
    from openaleph_search_spark.ops.dedup import simhash, simhash_pairs
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"),
         (3, "omega psi chi phi")],
        "doc_id long, text string")
    sims = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert sims[1] == sims[2]  # same token set → same simhash
    pairs = simhash_pairs(df, max_hamming=0).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == [(1, 2, 0)]


def test_ngram_jaccard_pairs(spark):
    from openaleph_search_spark.ops.dedup import ngram_jaccard_pairs
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c x e f")],
        "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) not in out  # only 4 shared of 4+4 trigram sets − …


# ----------------------------------------------------------- similarity --
def test_cosine_topk_vs_numpy(spark, embeddings):
    from openaleph_search_spark.ops.similarity import cosine_topk
    rows = embeddings.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.vstack([r["embedding"] for r in rows]).astype(np.float64)
    probe = mat[0]
    got = [(r["vec_id"], r["cosine"])
           for r in cosine_topk(embeddings, probe, k=10).collect()]
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = matn @ (probe / np.linalg.norm(probe))
    order = sorted(zip(ids, sims), key=lambda x: (-round(x[1], 6), x[0]))[:10]
    want = [(int(i), round(float(s), 6)) for i, s in order]
    assert got == want
    assert got[0][0] == 0 and abs(got[0][1] - 1.0) < 1e-6


def test_knn_join(spark, embeddings):
    from openaleph_search_spark.ops.similarity import knn_join
    probes = embeddings.limit(3).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    out = knn_join(embeddings, probes, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r["probe_id"], []).append(r)
    for pid, rs in by_probe.items():
        best = max(rs, key=lambda r: r["cosine"])
        assert best["vec_id"] == pid  # self is nearest


def test_lsh_cosine_topk_high_recall(spark, embeddings):
    from openaleph_search_spark.ops.similarity import (
        cosine_topk, lsh_cosine_topk)
    probe = embeddings.limit(1).collect()[0]["embedding"]
    exact = [r["vec_id"] for r in cosine_topk(embeddings, probe, 10).collect()]
    approx = [r["vec_id"] for r in
              lsh_cosine_topk(embeddings, probe, 10, n_planes=8,
                              probe_radius=3).collect()]
    # the probe's own vector shares its bucket (hamming 0) → always found
    assert approx and approx[0] == exact[0]
    # candidates are scored exactly → any overlap preserves exact order
    assert len(set(exact) & set(approx)) >= 3


# ------------------------------------------------------------ textstats --
def test_token_counts(spark):
    from openaleph_search_spark.ops.textstats import with_token_counts
    df = spark.createDataFrame([(1, "hello world  foo")],
                               "doc_id long, text string")
    r = with_token_counts(df).collect()[0]
    assert r["ws_tokens"] == 3 and r["word_tokens"] == 3
    assert r["bpe_tokens_est"] == int(np.ceil(len("helloworldfoo") / 4))


def test_language_id(spark):
    from openaleph_search_spark.ops.textstats import with_language_id
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in that house"),
         (2, "der Hund ist nicht mit der Katze und"),
         (3, "le chat et la maison est pour les amis"),
         (4, "zzz qqq www")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"]
           for r in with_language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_bounds(spark, documents):
    from openaleph_search_spark.ops.textstats import with_quality_score
    out = with_quality_score(documents)
    row = out.agg(F.min("quality_score"), F.max("quality_score")).collect()[0]
    assert 0.0 <= row[0] <= row[1] <= 1.0


def test_fingerprint_stability(spark):
    from openaleph_search_spark.ops.textstats import with_fingerprint
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["fingerprint_md5"], r["fingerprint_min8"])
           for r in with_fingerprint(df).collect()}
    assert out[1] == out[2]          # normalization-invariant
    assert out[1] != out[3]


def test_repetition_stats(spark):
    """Gopher repetition signals: hand-computed goldens incl. the
    overlap clamp, short docs, empty text, and a duplicated 5-gram."""
    from openaleph_search_spark.ops.textstats import with_repetition_stats
    rows = [
        (0, "a b a b a b c"),   # "a b" 3x -> top2 6/7; 3 dup tokens… see below
        (1, "x y z"),           # no repeats; top2 = 2/3 (count-1 bigram)
        (2, "a a a a a a"),     # overlap clamp: 5*2/6 -> 1.0
        (3, "one two three four five one two three four five"),
        (4, ""),                # empty -> all 0
        (5, "q"),               # shorter than every n -> all 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           with_repetition_stats(df).orderBy("doc_id").collect()}
    assert abs(got[0]["dup_word_fraction"] - (1 - 3 / 7)) < 1e-6
    assert abs(got[0]["top2gram_fraction"] - 6 / 7) < 1e-6
    assert got[1]["dup_word_fraction"] == 0.0
    assert abs(got[1]["top2gram_fraction"] - 2 / 3) < 1e-4
    assert got[2]["top2gram_fraction"] == 1.0  # clamped
    assert got[2]["dup_ngram_fraction"] == 1.0  # "a a a a a" x2
    assert abs(got[3]["dup_ngram_fraction"] - 2 / 6) < 1e-6
    assert all(got[4][c] == 0.0 and got[5][c] == 0.0
               for c in ("dup_word_fraction", "top2gram_fraction",
                         "top3gram_fraction", "dup_ngram_fraction"))


def test_quantize_embeddings(spark):
    """Int8 quantization: dequantized vectors stay cosine-parallel to
    the originals, codes stay in [-127, 127] with max|code| = 127 for
    nonzero vectors, and zero vectors get scale 0 / all-zero codes."""
    import numpy as np
    from openaleph_search_spark.ops.similarity import (cosine_topk,
                                                       dequantize_col,
                                                       quantize_embeddings)
    rng = np.random.RandomState(3)
    rows = [(i, (rng.standard_normal(32) * (10 ** (i % 5 - 2))).tolist())
            for i in range(40)] + [(99, [0.0] * 32)]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")
    q = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    for i, vec in rows:
        codes = np.array(q[i]["q8"], dtype=np.float64)
        assert codes.min() >= -127 and codes.max() <= 127
        if i == 99:
            assert q[i]["q_scale"] == 0.0 and not codes.any()
            continue
        assert int(np.abs(codes).max()) == 127  # scale saturates int8
        x = np.array(vec, dtype=np.float64)
        deq = codes / q[i]["q_scale"]
        cos = (x @ deq) / (np.linalg.norm(x) * np.linalg.norm(deq))
        assert cos > 0.999
    # dequantize_col round-trips through Spark and preserves top-k
    probe = rows[0][1]
    deq_df = quantize_embeddings(emb).select(
        "vec_id", dequantize_col().alias("embedding"))
    orig = [r["vec_id"] for r in cosine_topk(emb, probe, k=5).collect()]
    dq = [r["vec_id"] for r in cosine_topk(deq_df, probe, k=5).collect()]
    assert orig[0] == dq[0] == 0  # self-match survives quantization
    assert len(set(orig) & set(dq)) >= 4
    # bulk Arrow-batched dequantize == the Column-expr dequantize
    from openaleph_search_spark.ops.similarity import dequantize_embeddings
    bulk = {r["vec_id"]: r["embedding"] for r in
            dequantize_embeddings(quantize_embeddings(emb))
            .select("vec_id", "embedding").collect()}
    for r in deq_df.collect():
        assert np.allclose(bulk[r["vec_id"]], r["embedding"], atol=1e-12)


def test_mixture_sample_deterministic(spark):
    """Data-mixing sampler: same rows selected regardless of
    partitioning, unlisted groups dropped, fraction bounds enforced,
    and observed rates near the requested fractions."""
    import pytest
    from openaleph_search_spark.ops.mixing import mixture_sample
    rows = [(i, ["web", "code", "books"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    frac = {"web": 0.5, "code": 1.0}
    ids1 = sorted(r.doc_id for r in mixture_sample(df, frac).collect())
    ids2 = sorted(r.doc_id for r in
                  mixture_sample(df.repartition(7), frac).collect())
    assert ids1 == ids2  # partition-invariant selection
    got = {r["source"]: r["count"] for r in
           mixture_sample(df, frac).groupBy("source").count().collect()}
    assert got["code"] == 1000          # fraction 1.0 keeps all
    assert "books" not in got           # unlisted group dropped
    assert abs(got["web"] / 1000 - 0.5) < 0.06
    with pytest.raises(ValueError):
        mixture_sample(df, {"web": 1.5})


def test_temperature_fractions(spark):
    """α-sampling rebalance (mT5/XLM-R): q ∝ p^α checked against
    numpy; α=1 reproduces the natural shares; α=0 is uniform;
    low-resource groups get fraction 1.0 and composing with
    mixture_sample realizes the target mix."""
    import numpy as np
    from openaleph_search_spark.ops.mixing import (mixture_sample,
                                                   temperature_fractions)
    sizes = {"big": 2400, "mid": 480, "small": 120}
    rows = []
    i = 0
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((i, g))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    for alpha in (0.0, 0.3, 1.0):
        out = {r["group"]: r for r in
               temperature_fractions(df, alpha=alpha).collect()}
        n = np.array([sizes[g] for g in sorted(sizes)])
        p = n / n.sum()
        q = p ** alpha / (p ** alpha).sum()
        for gi, g in enumerate(sorted(sizes)):
            assert abs(out[g]["p"] - p[gi]) < 1e-12
            assert abs(out[g]["q"] - q[gi]) < 1e-12
            want_fr = min(1.0, q[gi] * n.sum() / n[gi])
            assert abs(out[g]["fraction"] - want_fr) < 1e-12
    # alpha=1 → natural distribution → every fraction is 1.0
    nat = temperature_fractions(df, alpha=1.0).collect()
    assert all(abs(r["fraction"] - 1.0) < 1e-12 for r in nat)
    # flattening run: small keeps everything, big is cut hardest
    fr = {r["group"]: r["fraction"] for r in
          temperature_fractions(df, alpha=0.3).collect()}
    assert fr["small"] == 1.0 and fr["mid"] == 1.0
    assert fr["big"] < 1.0
    sampled = mixture_sample(df, fr)
    got = {r["source"]: r["count"] for r in
           sampled.groupBy("source").count().collect()}
    assert got["small"] == sizes["small"]
    assert abs(got["big"] / sizes["big"] - fr["big"]) < 0.05
    # an explicit budget scales every weight proportionally
    full = {r["group"]: r["weight"] for r in
            temperature_fractions(df, alpha=0.3).collect()}
    half = {r["group"]: r for r in temperature_fractions(
        df, alpha=0.3, budget=sum(sizes.values()) // 2).collect()}
    for g in sizes:
        assert abs(half[g]["weight"] - full[g] / 2) < 1e-9
    assert half["big"]["fraction"] < fr["big"]


def test_replicate_by_weight(spark):
    """Deterministic up/down-sampling by fractional weights: copy
    counts are exact for integer parts, hash-gated for the fraction,
    partition-invariant, and w<1 matches mixture_sample's keep set."""
    from openaleph_search_spark.ops.mixing import (mixture_sample,
                                                   replicate_by_weight)
    rows = [(i, ["a", "b", "c", "d"][i % 4]) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    wts = {"a": 2.0, "b": 2.5, "c": 0.5}
    out = replicate_by_weight(df, wts)
    got = {r["source"]: r["count"] for r in
           out.groupBy("source").count().collect()}
    assert got["a"] == 2000                    # exactly 2 copies each
    assert abs(got["b"] / 1000 - 2.5) < 0.1    # 2 + Bernoulli(.5)
    assert abs(got["c"] / 1000 - 0.5) < 0.06   # pure downsample
    assert "d" not in got                      # unlisted dropped
    # rep index is 0..n-1 per row
    reps = out.filter("source = 'a'").groupBy("doc_id").agg(
        F.sort_array(F.collect_list("rep")).alias("r")).collect()
    assert all(r["r"] == [0, 1] for r in reps)
    # partition invariance
    a = sorted((r["doc_id"], r["rep"]) for r in out.collect())
    b = sorted((r["doc_id"], r["rep"]) for r in
               replicate_by_weight(df.repartition(7), wts).collect())
    assert a == b
    # w < 1 keeps the same ROWS as mixture_sample at that fraction
    # (same hash gate, same salt discipline: different salts differ)
    kept = sorted(r["doc_id"] for r in out.filter("source='c'")
                  .collect())
    mix = sorted(r["doc_id"] for r in mixture_sample(
        df.filter("source='c'"), {"c": 0.5}).collect())
    assert kept != mix  # different salts → independent events
    assert abs(len(kept) - len(mix)) < 80


def test_pii_scrub(spark):
    """PII scrubbing: emails/IPs/phones redacted and counted; custom
    pattern extension adds its own count + replace step."""
    from openaleph_search_spark.ops.textstats import with_pii_scrubbed
    rows = [(0, "bob+x@a.example.org or +1-555-867-5309"),
            (1, "at 10.0.255.3 and 192.168.1.1"),
            (2, "clean"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_pii_scrubbed(df).collect()}
    assert got[0]["pii_email_count"] == 1 and got[0]["pii_phone_count"] == 1
    assert got[0]["text_scrubbed"] == "[EMAIL] or [PHONE]"
    assert got[1]["pii_ip_count"] == 2
    assert got[1]["text_scrubbed"] == "at [IP] and [IP]"
    assert got[2]["text_scrubbed"] == "clean"
    custom = with_pii_scrubbed(df, patterns={"ssn": r"\d{3}-\d{2}-\d{4}"})
    row = {r["doc_id"]: r for r in custom.collect()}
    assert "pii_ssn_count" in custom.columns
    assert row[0]["pii_ssn_count"] == 0


def test_embedding_near_dup_pairs(spark):
    """Embedding-cosine near-dup: identical vectors always pair; the
    verify step is exact cosine."""
    import numpy as np
    from openaleph_search_spark.ops.similarity import (
        embedding_near_dup_pairs)
    rng = np.random.RandomState(11)
    base = rng.standard_normal((40, 16)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(40)]
    rows.append((100, base[3].tolist()))          # exact dup of 3
    rows.append((101, (base[7] * 2.0).tolist()))  # scaled dup of 7
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_near_dup_pairs(
                 emb, threshold=0.99, n_planes=8, radius=2).collect()}
    assert pairs[(3, 100)] == 1.0
    assert pairs[(7, 101)] == 1.0
    assert all(c >= 0.99 for c in pairs.values())


def test_ivf_ann_recall_and_pruning(spark):
    """IVF: stored cell column prunes the scan; results equal brute
    force restricted to the probed cells; high recall on clustered
    data (probe's own cluster lands in the probed cells)."""
    import numpy as np
    from openaleph_search_spark.ops.similarity import (
        cosine_topk, ivf_centroids, ivf_cosine_topk, with_ivf_cells)
    rng = np.random.RandomState(5)
    centers = rng.standard_normal((4, 16)) * 3
    rows = []
    for i in range(200):
        v = centers[i % 4] + rng.standard_normal(16) * 0.3
        rows.append((i, v.astype("float32").tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_centroids(emb, n_centroids=8)
    cells = with_ivf_cells(emb, cents)
    probe = rows[0][1]
    got = ivf_cosine_topk(cells, probe, cents, k=10, n_probe=3).collect()
    assert len(got) == 10
    # exact top-10 over the whole set: clustered data → IVF recalls most
    brute = {r["vec_id"] for r in cosine_topk(emb, probe, k=10).collect()}
    assert len({r["vec_id"] for r in got} & brute) >= 8


def test_exact_duplicates_group_cap_null_skip(spark):
    """Pins the rank-cap contract: collect_list SKIPS the NULLs the
    `when(_rn <= cap)` produces (Spark guarantee the agg relies on) —
    n_docs stays the TRUE group size while doc_ids is bounded."""
    from openaleph_search_spark.ops.dedup import exact_duplicates
    rows = [(i, "same text") for i in range(10)] + [(99, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_duplicates(df, max_group_ids=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] == 10
    assert r["doc_ids"] == [0, 1, 2]          # capped, no NULL holes
    assert all(x is not None for x in r["doc_ids"])

def test_duplicate_clusters(spark):
    """Connected components: chains, diamonds and singleton pairs all
    collapse to min-id cluster labels; long chains exercise pointer
    jumping (diameter >> 1 round)."""
    from openaleph_search_spark.ops.dedup import duplicate_clusters
    # chain 1-2-3-4-5, diamond 10-11-12 (+cross edge), pair 20-21,
    # long chain 30..45
    edges = ([(i, i + 1) for i in range(1, 5)]
             + [(10, 11), (11, 12), (10, 12)]
             + [(20, 21)]
             + [(i, i + 1) for i in range(30, 45)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert {got[i] for i in range(1, 6)} == {1}
    assert {got[i] for i in (10, 11, 12)} == {10}
    assert {got[i] for i in (20, 21)} == {20}
    assert {got[i] for i in range(30, 46)} == {30}
    assert len(got) == 5 + 3 + 2 + 16

def test_contamination_flags(spark):
    """Decontamination: docs sharing an n-gram with the eval set are
    flagged; disjoint docs are not."""
    from openaleph_search_spark.ops.dedup import contamination_flags
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "a quick brown fox appeared in the benchmark"),
         (3, "completely unrelated text about spark windows")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "quick brown fox")], "doc_id long, text string")
    out = {r["doc_id"]: (r["contaminated"], r["eval_hits"])
           for r in contamination_flags(docs, ev, n=3).collect()}
    assert out[1] == (True, 1)   # shares "quick brown fox"
    assert out[2] == (True, 1)
    assert out[3] == (False, 0)

def test_duplicate_clusters_random_vs_union_find(spark):
    """Randomized graphs vs a pure-Python union-find oracle: the
    distributed label propagation must agree on every component."""
    import random

    def uf_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    from openaleph_search_spark.ops.dedup import duplicate_clusters
    rng = random.Random(42)
    for trial in range(3):
        n_nodes = 60
        edges = sorted({(min(a, b), max(a, b)) for a, b in
                        ((rng.randrange(n_nodes), rng.randrange(n_nodes))
                         for _ in range(50)) if a != b})
        nodes = sorted({x for e in edges for x in e})
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in duplicate_clusters(pairs).collect()}
        assert got == uf_components(edges, nodes), f"trial {trial}"


def test_duplicate_spans(spark):
    """Semantics pinned by hand: windows never cross docs, adjacent/
    overlapping duplicated windows merge into one maximal span,
    unique text yields no span, min_count is corpus-wide."""
    from openaleph_search_spark.ops.dedup import duplicate_spans
    boiler = "the quick brown fox jumps over the lazy dog tonight"
    docs = [
        # docs 1+2 share a 10-token prefix, then diverge
        (1, boiler + " alpha beta gamma delta unique one fine"),
        (2, boiler + " zeta eta theta iota unique two other"),
        # doc 3: fully unique text, no spans
        (3, "completely different words nobody else ever wrote here"),
        # doc 4: too short to hold a 5-token window even though the
        # tokens appear in doc 1 (boundary: no cross-doc windows)
        (4, "the quick brown fox"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: (r["span_start"], r["span_end"])
           for r in duplicate_spans(df, window=5).collect()}
    # windows 0..5 of the 10-token boilerplate are duplicated in docs
    # 1 and 2 -> one merged span [0, 10) in each, nothing else
    assert out == {1: (0, 10), 2: (0, 10)}

    # min_count=3 kills the pair-only duplicate
    assert duplicate_spans(df, window=5, min_count=3).count() == 0

    # two disjoint duplicated regions in one doc stay two spans
    gap_docs = [
        (1, boiler + " xx yy zz ww vv uu tt ss " + boiler),
        (2, boiler),
    ]
    df2 = spark.createDataFrame(gap_docs, "doc_id long, text string")
    spans1 = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicate_spans(df2, window=5).collect()
        if r["doc_id"] == 1)
    assert spans1 == [(0, 10), (18, 28)]


def test_cut_spans(spark):
    """Detect → cut round-trip: duplicated ranges vanish from the
    normalized token stream, unique text and null/empty docs pass
    through, and caller-filtered spans implement keep-one policies."""
    from openaleph_search_spark.ops.dedup import (cut_spans,
                                                  duplicate_spans)
    boiler = "the quick brown fox jumps over the lazy dog tonight"
    docs = [(1, boiler + " alpha beta gamma"),
            (2, boiler + " zeta eta theta"),
            (3, "unique text entirely here okay fine right"),
            (4, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = duplicate_spans(df, window=5)
    out = {r["doc_id"]: r for r in cut_spans(df, spans).collect()}
    assert out[1]["text_deduped"] == "alpha beta gamma"
    assert out[1]["n_tokens"] == 13 and out[1]["n_tokens_removed"] == 10
    assert out[2]["text_deduped"] == "zeta eta theta"
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["text_deduped"].startswith("unique text")
    assert out[4]["text_deduped"] == "" and out[4]["n_tokens"] == 0

    # keep-one policy: caller filters the spans to docs != min doc
    keep_first = spans.filter(F.col("doc_id") != 1)
    out2 = {r["doc_id"]: r for r in cut_spans(df, keep_first).collect()}
    assert out2[1]["n_tokens_removed"] == 0
    assert out2[1]["text_deduped"].startswith("the quick brown")
    assert out2[2]["n_tokens_removed"] == 10


def test_vocab_table(spark):
    """df counts docs (not occurrences), tf counts occurrences,
    rank is dense by tf desc with token tiebreak, min_df filters."""
    from openaleph_search_spark.ops.textstats import vocab_table
    docs = [(1, "alpha beta alpha alpha"),
            (2, "beta gamma, beta!"),
            (3, "alpha only here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["token"]: r for r in vocab_table(df).collect()}
    assert (out["alpha"]["df"], out["alpha"]["tf"]) == (2, 4)
    assert (out["beta"]["df"], out["beta"]["tf"]) == (2, 3)
    assert (out["gamma"]["df"], out["gamma"]["tf"]) == (1, 1)
    assert out["alpha"]["rank"] == 1 and out["beta"]["rank"] == 2
    assert vocab_table(df, min_df=2).count() == 2
    assert [r["token"] for r in
            vocab_table(df, top_n=2).orderBy("rank").collect()] \
        == ["alpha", "beta"]


def test_unigram_logprob(spark):
    """Hand-computed add-one unigram model; reference-vocab scoring
    marks OOV-heavy docs lower than in-vocab docs."""
    import math
    from openaleph_search_spark.ops.textstats import (vocab_table,
                                                      with_unigram_logprob)
    docs = [(1, "alpha alpha beta"), (2, "alpha gamma"), (3, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_unigram_logprob(df).collect()}
    # corpus: alpha tf=3, beta tf=1, gamma tf=1 -> T=5, V=3
    lp = lambda tf: math.log((tf + 1) / 8)
    assert abs(out[1]["unigram_logprob"]
               - (2 * lp(3) + lp(1)) / 3) < 1e-12
    assert abs(out[2]["unigram_logprob"] - (lp(3) + lp(1)) / 2) < 1e-12
    assert out[3]["unigram_logprob"] is None and out[3]["n_tokens"] == 0

    # external reference vocab: doc of pure OOV scores ln(1/(T+V))
    ref = vocab_table(
        spark.createDataFrame([(1, "alpha alpha")],
                              "doc_id long, text string"))
    scored = {r["doc_id"]: r
              for r in with_unigram_logprob(df, vocab=ref).collect()}
    # ref model: T=2, V=1 -> OOV lp = ln(1/3)
    assert abs(scored[2]["unigram_logprob"]
               - (math.log(3 / 3) + math.log(1 / 3)) / 2) < 1e-12


def test_with_split_deterministic(spark):
    """Split assignment is a partition of the corpus, stable under
    repartitioning/appends, proportions near weights, independent of
    the mixture_sample gate on the same key."""
    import pytest
    from openaleph_search_spark.ops.mixing import (mixture_sample,
                                                   with_split)
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = with_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == df.count()
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] + counts["test"]

    # stability: same assignment under different partitioning and on
    # a subset (append-stability)
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"]
         for r in with_split(df.repartition(7),
                             {"train": 0.8, "val": 0.1, "test": 0.1})
         .collect()}
    assert a == b
    sub = {r["doc_id"]: r["split"]
           for r in with_split(df.limit(100),
                               {"train": 0.8, "val": 0.1, "test": 0.1})
           .collect()}
    assert all(a[k] == v for k, v in sub.items())

    # independence from the sampling gate: within the kept half of a
    # 50% sample, split proportions stay ~80/10/10 (the salted hash
    # decorrelates the two decisions)
    kept = mixture_sample(df.withColumn("g", F.lit("x")), {"x": 0.5},
                          group_col="g")
    ks = with_split(kept, {"train": 0.8, "val": 0.1, "test": 0.1})
    kc = {r["split"]: r["count"]
          for r in ks.groupBy("split").count().collect()}
    frac_train = kc["train"] / sum(kc.values())
    assert 0.7 < frac_train < 0.9

    with pytest.raises(ValueError):
        with_split(df, {})
    with pytest.raises(ValueError):
        with_split(df, {"a": -1.0, "b": 2.0})


def test_boilerplate_lines_detect_and_strip(spark):
    """Cross-doc repeated lines detected by corpus df, stripped while
    preserving the original (untrimmed) text and line order of what
    remains; short lines are exempt from detection."""
    from openaleph_search_spark.ops.dedup import (boilerplate_lines,
                                                  strip_boilerplate_lines)
    hdr = "// Licensed under the Apache License, Version 2.0"
    docs = [(1, hdr + "\nint main() {\n  return 0;\n}"),
            (2, "  " + hdr + "  \nfn main() {}\n}"),   # trim-identical
            (3, hdr + "\nunique body three"),
            (4, "no header\njust code"),
            (5, None)]                     # NULL text must be preserved
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bp = boilerplate_lines(df, min_docs=3)
    rows = bp.collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 3 and rows[0]["n_occurrences"] == 3
    assert rows[0]["sample"] == hdr
    # '}' appears in docs 1+2 but is under min_chars -> exempt
    out = {r["doc_id"]: r
           for r in strip_boilerplate_lines(df, bp).collect()}
    assert out[1]["text_clean"] == "int main() {\n  return 0;\n}"
    assert out[1]["n_lines"] == 4 and out[1]["n_lines_removed"] == 1
    assert out[2]["text_clean"] == "fn main() {}\n}"
    assert out[4]["n_lines_removed"] == 0
    assert out[4]["text_clean"] == "no header\njust code"
    # NULL text -> doc survives with empty clean text (ADVICE r4)
    assert out[5]["text_clean"] == "" and out[5]["n_lines_removed"] == 0
    # the guarded join fallback (huge boiler sets) is result-identical
    fb = {r["doc_id"]: r for r in strip_boilerplate_lines(
        df, bp, max_broadcast_lines=0).collect()}
    for d in out:
        assert (fb[d]["text_clean"], fb[d]["n_lines"],
                fb[d]["n_lines_removed"]) == \
               (out[d]["text_clean"], out[d]["n_lines"],
                out[d]["n_lines_removed"])


def test_bpe_learn_and_encode(spark):
    """Sennrich et al. toy corpus: canonical first merges, lossless
    round-trip, distributed encode matches driver-side encode."""
    from openaleph_search_spark.ops.bpe import (EOW, bpe_encode,
                                                encode_word, learn_bpe)
    vocab = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = learn_bpe(vocab, num_merges=10)
    # the classic result: 'es' then 'est' lead (freq 9)
    assert merges[0] == ("e", "s") and merges[1] == ("es", "t")
    ranks = {p: i for i, p in enumerate(merges)}
    assert encode_word("lowest", ranks) == ["low", "est" + EOW]
    for w in ("low", "newest", "widest", "unseen"):
        assert "".join(encode_word(w, ranks)).rstrip(EOW) == w

    docs = [(1, "low lowest newest"), (2, "widest low!"), (3, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    assert out[1]["bpe_tokens"][:2] == ["low" + EOW, "low"]
    assert out[1]["n_pieces"] == len(out[1]["bpe_tokens"])
    assert out[3]["n_pieces"] == 0 and out[3]["bpe_tokens"] == []
    # distributed == driver-side encode per token
    want = [p for w in ("widest", "low")
            for p in encode_word(w, ranks)]
    assert out[2]["bpe_tokens"] == want


def test_keep_one_per_cluster(spark):
    """Transitive near-dup chains collapse to one survivor (min id);
    unique docs always survive."""
    from openaleph_search_spark.ops.dedup import keep_one_per_cluster
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)],
        "doc_id long, text string")
    # chain 1-2-3 and pair 5-6; doc 4 untouched
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (5, 6, 0.95)],
        "id_a long, id_b long, jaccard double")
    kept = sorted(r["doc_id"]
                  for r in keep_one_per_cluster(docs, pairs).collect())
    assert kept == [1, 4, 5]
