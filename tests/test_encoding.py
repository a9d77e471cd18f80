"""Index file encodings: every pyarrow-written index file goes through
``FsIO.write_parquet_atomic``, which encodes each column by its type
(ZSTD pages, a dictionary for string columns only, integer columns
``DELTA_BINARY_PACKED``). Readers need no change, so files written
with pyarrow's defaults (SNAPPY, all columns dictionary-encoded) stay
valid in the same index."""
from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from openaleph_search_spark.index.build import build_index
from openaleph_search_spark.index.mutate import (compact, delete_docs,
                                                 upsert_docs)
from openaleph_search_spark.index.storage import IndexStorage
from openaleph_search_spark.query.engine import Engine
from openaleph_search_spark.query.percolate import register_watchlist
from openaleph_search_spark.streaming.incremental import append_batch

INT_COLS = {"i8": ("tinyint", -128, 127), "i16": ("smallint", -32768, 32767),
            "i32": ("int", -2 ** 31, 2 ** 31 - 1),
            # ±2^62: exact in float64 (pandas turns ints with nulls into
            # floats), and their delta overflows int64
            "i64": ("bigint", -2 ** 62, 2 ** 62)}


def _parquet_files(root):
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                yield os.path.join(d, n)


def _chunks(path):
    """(top-level arrow field, column chunk metadata) of every column
    chunk in ``path``."""
    md = pq.read_metadata(path)
    fields = {f.name: f for f in md.schema.to_arrow_schema()}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for j in range(rg.num_columns):
            c = rg.column(j)
            yield fields[c.path_in_schema.split(".")[0]], c


def _assert_encoded_by_type(path):
    for f, c in _chunks(path):
        where = f"{path}:{c.path_in_schema}"
        assert c.compression == "ZSTD", where
        if pa.types.is_string(f.type) or pa.types.is_large_string(f.type):
            continue
        assert not c.has_dictionary_page, where
        if pa.types.is_integer(f.type):
            assert "DELTA_BINARY_PACKED" in c.encodings, where


def _with_int_meta(df):
    """Each INT_COLS column holds its low bound, its high bound or null,
    chosen by a hash of the doc's path."""
    k = F.pmod(F.xxhash64("path"), F.lit(3))
    for name, (typ, lo, hi) in INT_COLS.items():
        df = df.withColumn(name, F.when(k == 0, F.lit(lo).cast(typ))
                           .when(k == 1, F.lit(hi).cast(typ)))
    return df


def test_index_files_encoded_by_column_type(spark, fixture_docs_df,
                                            tmp_path):
    """Build, append, delete, upsert, compact and a watchlist: every
    .parquet under the index is ZSTD, no binary or integer column has a
    dictionary page, and integer columns are delta-packed. Tinyint to
    bigint meta columns with nulls read back exactly through doc_meta,
    export and a hydrated search."""
    docs = _with_int_meta(fixture_docs_df)
    out = str(tmp_path / "idx_enc")
    st = build_index(spark, docs, out, num_partitions=4, num_shards=2,
                     bigrams=True, meta_cols=list(INT_COLS))
    append_batch(spark, docs.filter(F.col("repo") == "r1")
                 .withColumn("commit", F.lit("c9")), out, 0)
    delete_docs(spark, st, F.col("lang") == "go")
    upsert_docs(spark, st, docs.filter(F.col("repo") == "r2"))
    compact(spark, st)
    delete_docs(spark, st, F.col("path") == "a/jane.py")
    register_watchlist(st, [{"entity_id": "w1", "names": ["Banana Crime"]}])
    dirs = {os.path.relpath(p, out).split(os.sep)[0]
            for p in _parquet_files(out)}
    assert dirs == {"postings", "doc_meta", "field_lens", "term_stats",
                    "tombstones", "percolator"}
    for p in _parquet_files(out):
        _assert_encoded_by_type(p)

    want = {r["path"]: tuple(r[c] for c in INT_COLS)
            for r in docs.collect()}
    assert {v for t in want.values() for v in t} == {
        None, *(b for _, lo, hi in INT_COLS.values() for b in (lo, hi))}
    eng = Engine(spark, out)
    types = dict(eng.doc_meta.dtypes)
    assert [types[c] for c in INT_COLS] == [t for t, _, _ in
                                           INT_COLS.values()]
    for rows in (eng.doc_meta.collect(),
                 st.live_doc_meta(spark).collect(),
                 eng.search({"q": "banana OR kwazulu OR fruit OR token1",
                             "limit": 20}).hits.collect()):
        assert rows
        for r in rows:
            assert tuple(r[c] for c in INT_COLS) == want[r["path"]]


def test_mixed_encodings_read_and_compact_alike(spark, fixture_docs_df,
                                                tmp_path):
    """An index whose base parts were written with pyarrow's defaults
    (as older builds wrote them) and whose appended parts use the
    encoding rule gives the same search, count and facet results as an
    index written only with the rule, and compacts to the same rows."""
    new = str(tmp_path / "idx_new")
    mixed = str(tmp_path / "idx_mixed")
    base = fixture_docs_df.filter(F.col("repo") != "r2")
    build_index(spark, base, new, num_partitions=2, num_shards=2,
                bigrams=True)
    shutil.copytree(new, mixed)
    for p in _parquet_files(mixed):
        t = pq.ParquetFile(p).read()
        pq.write_table(t.replace_schema_metadata(None), p)
    for root in (new, mixed):
        append_batch(spark, fixture_docs_df.filter(F.col("repo") == "r2"),
                     root, 0)
    codecs = {c.compression for p in _parquet_files(mixed)
              for _, c in _chunks(p)}
    assert codecs == {"SNAPPY", "ZSTD"}

    def results(root):
        eng = Engine(spark, root)
        out = []
        for q in ("banana", "banana OR kwazulu OR manafort",
                  '"banana crime"', '"paul manafort former"', "-banana"):
            out.append(sorted(tuple(r) for r in eng.search(
                {"q": q, "limit": 20}).hits.collect()))
            out.append(eng.count({"q": q}))
        res = eng.search({"q": "banana OR crime OR token1 OR kwazulu",
                          "facet": "lang", "limit": 0})
        out.append(sorted(tuple(r) for r in res.facets["lang"].collect()))
        return out

    assert results(mixed) == results(new)
    for root in (new, mixed):
        st = IndexStorage(root)
        delete_docs(spark, st, F.col("lang").isin("txt", "js"))
        compact(spark, st)
    assert results(mixed) == results(new)
    for table in ("postings", "doc_meta", "field_lens", "term_stats"):
        rows = [sorted(tuple(r) for r in spark.read.parquet(
            os.path.join(root, table)).collect()) for root in (new, mixed)]
        assert rows[0] == rows[1] and rows[0], table
