"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All pure Column expressions / built-ins (JVM-side, whole-stage
codegen) except the repetition n-gram stats, which run in one
Arrow-batched pandas UDF (factorize+sort+reduceat per batch — the
n-gram mode has no efficient Column form); everything is designed to
run over a 100 TB documents table as a single projection pass with
zero shuffles.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .util import spread

# Tiny deterministic stopword banks per language (the n-gram/stopword
# heuristic signal; real deployments would broadcast larger tables).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "für", "nicht"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "es", "por"],
}

_WORD_RE = r"[a-zA-Z0-9_]+"


def tokens_col(col):
    """Analyzer-lite token array (lowercase word tokens)."""
    return F.filter(
        F.split(F.lower(col), r"[^a-z0-9_]+"), lambda t: t != "")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (regex word
    chars / 4, the common chars-per-token heuristic)."""
    c = F.col(text_col)
    return (df
            .withColumn("ws_tokens", F.size(F.split(F.trim(c), r"\s+")))
            .withColumn("word_tokens", F.size(tokens_col(c)))
            .withColumn("bpe_tokens_est",
                        F.ceil(F.length(F.regexp_replace(c, r"\s+", "")) / 4)
                        .cast("int")))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    mean word length → composite [0,1] score (each signal a pure
    Column expr)."""
    c = F.col(text_col)
    toks = tokens_col(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    punct = (F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
             / F.greatest(n_chars, F.lit(1)))
    stop_en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_ratio = (F.size(F.array_intersect(F.array_distinct(toks), stop_en))
                  / F.greatest(F.size(F.array_distinct(toks)), F.lit(1)))
    mean_wl = (F.aggregate(toks, F.lit(0),
                           lambda acc, t: acc + F.length(t))
               / F.greatest(n_tok, F.lit(1)))
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct * 4, F.lit(1.0))
    wl_score = F.when((mean_wl >= 3) & (mean_wl <= 10), 1.0).otherwise(0.5)
    return (df
            .withColumn("punct_ratio", punct)
            .withColumn("stopword_ratio", stop_ratio)
            .withColumn("mean_word_len", mean_wl)
            .withColumn("quality_score",
                        F.round((len_score + punct_score + wl_score) / 3.0, 6)))


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: argmax over per-language distinct
    stopword hits, ties broken lexicographically, 'und' (undetermined)
    when nothing matches. Deterministic and SQL-expressible (oracle)."""
    toks = F.array_distinct(tokens_col(F.col(text_col)))
    langs = sorted(STOPWORDS)
    n = len(langs)
    scores = [
        F.struct(
            F.size(F.array_intersect(
                toks, F.array([F.lit(w) for w in STOPWORDS[lang]])))
            .alias("hits"),
            F.lit(n - 1 - i).alias("r"),  # desc sort → lex-asc lang tiebreak
            F.lit(lang).alias("lang"))
        for i, lang in enumerate(langs)]
    best = F.sort_array(F.array(*scores), asc=False)[0]
    return df.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints:
    * ``fingerprint_md5``: md5 of the normalized token stream (exact
      content identity up to whitespace/punct),
    * ``fingerprint_min8``: min md5 over 8-char sliding shingles of the
      normalized text (winnowing-style rolling fingerprint; robust to
      local edits)."""
    norm = F.array_join(tokens_col(F.col(text_col)), " ")
    out = df.withColumn("_norm", norm)
    shingles = F.expr(
        "transform(sequence(1, greatest(length(_norm) - 7, 1)), "
        "i -> md5(substring(_norm, i, 8)))")
    return (out
            .withColumn("fingerprint_md5", F.md5(F.col("_norm")))
            .withColumn("fingerprint_min8", F.array_min(shingles))
            .drop("_norm"))


#: PII patterns — deliberately lookaround-free so the SAME pattern
#: strings run under Java regex (Spark) and RE2-style engines
#: (DuckDB oracle, scrubbing sidecars).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d[\d\-]{7,}\d",
}


def with_pii_scrubbed(df: DataFrame, text_col: str = "text",
                      patterns: dict[str, str] | None = None) -> DataFrame:
    """PII scrubbing for training text: replace emails / IPv4 addresses
    / international-format phone numbers with ``[EMAIL]``/``[IP]``/
    ``[PHONE]`` placeholders, plus per-doc ``pii_<name>_count`` columns
    counting each pattern's occurrences in the ORIGINAL text (counts
    are independent per pattern, so text matched by two patterns — an
    email embedding a dotted quad — counts under both even though only
    the first replacement survives in ``text_scrubbed``). Pure
    Column expressions (regexp_replace / regexp_count — whole-stage
    codegen, single projection pass, zero shuffles). Replace order:
    email before ip/phone so an address's digits are never re-matched. The
    default patterns are heuristic (as in production pipelines) —
    extend via ``patterns`` (name → regex; each adds a
    ``pii_<name>_count`` column and a replace step)."""
    pats = patterns or PII_PATTERNS
    out = df
    scrub = F.col(text_col)
    for name, pat in pats.items():
        out = out.withColumn(f"pii_{name}_count",
                             F.regexp_count(F.col(text_col), F.lit(pat))
                             .cast("long"))
        scrub = F.regexp_replace(scrub, pat, f"[{name.upper()}]")
    return out.withColumn("text_scrubbed", scrub)


def repetition_kernel(s: pd.Series, dup_n: int = 5) -> pd.DataFrame:
    """Batch kernel behind :func:`with_repetition_stats` — exposed
    at module level so the property suite can fuzz the segment
    logic (factorize + lexsort + reduceat) without a Spark session
    in the loop."""
    toks = s.fillna("").str.split(" ")
    lens = toks.str.len().fillna(0).astype(np.int64).to_numpy()
    nrows = len(s)
    out = np.zeros((nrows, 3), dtype=np.float64)
    if lens.sum():
        flat = toks.explode()
        row = flat.index.to_numpy(np.int64)
        codes, _ = pd.factorize(flat.to_numpy(object), sort=False)
        codes = codes.astype(np.int64)
        v = np.int64(codes.max() + 1)
        for col, n in ((0, 2), (1, 3), (2, dup_n)):
            if codes.size < n:
                continue
            # within-row n-gram key: positional windows whose rows
            # all match; combine token codes pairwise with a
            # re-factorize after each step — codes stay < #windows,
            # so the pair product can never overflow int64 (a
            # one-shot base-V combine of a 5-gram would)
            ok = row[: 1 - n] == row[n - 1:]
            key = codes[: 1 - n]
            for j in range(1, n):
                nxt = codes[j: codes.size - (n - 1) + j]
                key, _ = pd.factorize(key * v + nxt, sort=False)
                key = key.astype(np.int64)
            r, k = row[: 1 - n][ok], key[ok]
            if r.size == 0:
                continue
            order = np.lexsort((k, r))
            r, k = r[order], k[order]
            new = np.empty(r.size, dtype=bool)
            new[0] = True
            new[1:] = (r[1:] != r[:-1]) | (k[1:] != k[:-1])
            starts = np.flatnonzero(new)
            counts = np.diff(np.append(starts, r.size))
            grp_row = r[starts]
            rstart = np.empty(grp_row.size, dtype=bool)
            rstart[0] = True
            rstart[1:] = grp_row[1:] != grp_row[:-1]
            rs = np.flatnonzero(rstart)
            rows_u = grp_row[rs]
            if col < 2:  # top-n-gram token coverage
                # clamped at 1: overlapping occurrences ("a a a a")
                # can make count·n exceed the token count
                mx = np.maximum.reduceat(counts, rs)
                out[rows_u, col] = np.minimum(
                    mx * n / lens[rows_u], 1.0)
            else:  # duplicated-n-gram occurrence fraction
                dup = np.add.reduceat(
                    np.where(counts > 1, counts, 0), rs)
                tot = np.add.reduceat(counts, rs)
                out[rows_u, col] = dup / tot
    return pd.DataFrame({"top2": out[:, 0], "top3": out[:, 1],
                         "dupn": out[:, 2]})


def with_repetition_stats(df: DataFrame, text_col: str = "text",
                          dup_n: int = 5) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, the
    standard pre-training quality gate family) over whitespace tokens:

    * ``dup_word_fraction`` — fraction of token OCCURRENCES whose type
      is duplicated: ``1 − distinct/total`` (pure Column expr).
    * ``top2gram_fraction`` / ``top3gram_fraction`` — tokens covered by
      the most frequent word n-gram: ``min(max_count·n / total_tokens,
      1)`` (token-count variant of Gopher's top-n-gram character
      fraction; clamped because overlapping occurrences double-count;
      deterministic and SQL-expressible).
    * ``dup_ngram_fraction`` — fraction of ``dup_n``-gram occurrences
      whose n-gram appears more than once in the doc.

    Scale shape: the n-gram stats run in ONE Arrow-batched pandas UDF —
    per-partition, zero shuffles (an explode+groupBy formulation would
    shuffle every n-gram of a 100 TB corpus). Inside the batch the
    work is factorize + sort + reduceat — no per-row Python loops.
    Docs shorter than n tokens score 0 for that signal. Line-based
    Gopher signals (duplicate-line fraction) are omitted: the corpus
    tokens carry no line structure.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("top2 double, top3 double, dupn double")
    def _rep(s: pd.Series) -> pd.DataFrame:
        return repetition_kernel(s, dup_n)

    c = F.col(text_col)
    ws = F.split(c, " ")
    rep = _rep(c)
    return (spread(df, 1)
            .withColumn("dup_word_fraction", F.round(
                1.0 - F.size(F.array_distinct(ws))
                / F.greatest(F.size(ws), F.lit(1)), 6))
            .withColumn("_rep", rep)
            .withColumn("top2gram_fraction", F.round(F.col("_rep.top2"), 6))
            .withColumn("top3gram_fraction", F.round(F.col("_rep.top3"), 6))
            .withColumn("dup_ngram_fraction", F.round(F.col("_rep.dupn"), 6))
            .drop("_rep"))


def with_pack_ids(df: DataFrame, budget: int,
                  token_col: str = "ws_tokens",
                  group_col: str = "source",
                  id_col: str = "doc_id") -> DataFrame:
    """LLM training sequence packing: assign each doc to a fixed
    token-budget pack. Docs fill packs greedily in deterministic
    ``id_col`` order WITHIN each ``group_col`` partition —
    ``pack_id = <group>-<running_tokens_before // budget>`` — so the
    window shuffles one group at a time (groups are the scale unit;
    a single global order would serialize the whole table through one
    task). A doc whose tokens straddle a boundary stays in the pack it
    started in (training pipelines chunk long docs downstream; exact
    first-fit bin packing is order-sensitive and gains <2% fill).
    Also emits ``pack_offset``: the doc's token start within its
    group's running stream. ``id_col`` must be unique within a group
    (it defines the fill order); the ROWS frame below keeps tied ids
    from absorbing each other's tokens, but their relative order would
    be nondeterministic."""
    from pyspark.sql import Window
    if budget <= 0:
        raise ValueError(f"pack budget must be > 0, got {budget}")
    # explicit ROWS frame: the default RANGE frame sums ALL rows tied
    # on id_col into each tied row's running total (wrong pack_offset)
    w = (Window.partitionBy(group_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    before = (F.sum(token_col).over(w) - F.col(token_col)).cast("long")
    return (df
            .withColumn("pack_offset", before)
            .withColumn("pack_id", F.concat_ws(
                "-", F.col(group_col),
                F.floor(before / F.lit(budget)).cast("string"))))


def vocab_table(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                min_df: int = 1, top_n: int | None = None) -> DataFrame:
    """Corpus vocabulary with document and collection frequencies —
    the input every tokenizer-training / stopword / idf pipeline
    needs. → (token, df, tf, rank) where ``df`` = docs containing the
    token, ``tf`` = total occurrences, ``rank`` = 1-based dense rank
    by (tf desc, token asc).

    Scale shape: one explode + one partial-aggregated groupBy on the
    token (map-side combine collapses each partition's Zipf head
    before the shuffle, so the shuffle payload is ~vocab-sized per
    partition, not token-stream-sized). The rank is a single
    ungrouped window — fine for a vocabulary (≤ millions of rows);
    cap with ``top_n`` / raise ``min_df`` when the long tail is not
    wanted."""
    tok = df.select(F.col(id_col).alias("_doc"),
                    F.explode(tokens_col(F.col(text_col))).alias("token"))
    per_doc = tok.groupBy("token", "_doc").agg(F.count("*").alias("_c"))
    agg = (per_doc.groupBy("token")
           .agg(F.count("*").alias("df"), F.sum("_c").alias("tf"))
           .filter(F.col("df") >= min_df))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("tf").desc(), F.col("token"))
    out = agg.withColumn("rank", F.row_number().over(w))
    return out.filter(F.col("rank") <= top_n) if top_n else out


def with_unigram_logprob(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         vocab: DataFrame | None = None) -> DataFrame:
    """CCNet-style LM quality proxy: each doc's mean token log-prob
    under a unigram model with add-one smoothing — low scores mark
    gibberish / rare-token soup, the cheap stand-in for the KenLM
    perplexity filter. → df + ``n_tokens`` + ``unigram_logprob``
    (natural log; null for empty docs).

    ``vocab`` defaults to :func:`vocab_table` over ``df`` itself
    (self-scoring); pass a vocabulary built from a reference corpus
    to score against it instead. p(t) = (tf(t)+1)/(T+V), OOV =
    1/(T+V), where T = total tokens and V = vocabulary size of the
    model corpus.

    Scale shape: one explode, one equi-join on the token (the vocab
    side is vocabulary-sized — AQE broadcasts it under the
    threshold), one groupBy(doc). The (T, V) scalars ride in on a
    1-row crossJoin, not a driver collect."""
    vb = (vocab if vocab is not None
          else vocab_table(df, text_col=text_col, id_col=id_col))
    vb = vb.select("token", "tf")
    tot = vb.agg(F.sum("tf").alias("_T"),
                 F.count("*").alias("_V"))
    tok = df.select(F.col(id_col).alias("_doc"),
                    F.explode(tokens_col(F.col(text_col)))
                    .alias("token"))
    scored = (tok.join(vb, "token", "left")
              .crossJoin(F.broadcast(tot))
              .select("_doc",
                      (F.log((F.coalesce(F.col("tf"), F.lit(0)) + 1)
                             / (F.col("_T") + F.col("_V"))))
                      .alias("_lp")))
    agg = (scored.groupBy("_doc")
           .agg(F.count("*").alias("n_tokens"),
                F.avg("_lp").alias("unigram_logprob")))
    return (df.join(agg, df[id_col] == agg["_doc"], "left")
            .drop("_doc")
            .withColumn("n_tokens",
                        F.coalesce("n_tokens", F.lit(0)).cast("long")))
