"""Index storage layout + readers.

The index is a set of columnar tables under one directory — the Spark
re-expression of an ES index (shards ≈ doc-id-range partitions; segment
files ≈ parquet block rows; cluster state ≈ ``meta.json``).  Written as
plain parquet here; on a cluster the same layout maps 1:1 onto Iceberg
tables (partitioned-by shard) — the container has no Iceberg runtime
jar, so the format is pluggable via ``table_format``.

Layout::

    <index_dir>/
      meta.json            build config: P, num_shards, block_size, k1/b,
                           with_positions, analyzer version, n_docs,
                           avgdl, and ``doc_meta_schema`` (the Spark
                           schema of doc_meta: the base columns plus
                           the docs table's own types for meta_cols)
      manifest/part=K.json per-source-partition checkpoint + lineage
                           (north_rule resumability)
      manifest/fields_part=K.json  the part's per-field
                           (docs, tokens) partial → per-field avgdl
      doc_meta/part=K.parquet
      field_lens/part=K.parquet  per-doc per-field lengths
      postings/shard=S/part=K.parquet  SPIMI runs written straight
                           into the final shard layout (S = K mod
                           num_shards)
      term_stats/*.parquet global df/cf, summed from the postings
      tombstones/<uuid>.parquet  deleted doc ids, one file per delete
                           or upsert call, written atomically and
                           disjoint from the earlier files; until
                           compact()

Every data file of source part K is named ``part=K.parquet`` (the
scatter query path depends on it), and every writer keeps that:
build writes parts, an append adds one part per small batch, and
``compact()`` rewrites only the parts that hold a tombstoned doc, in
place, file by file, with the manifest last.

Every table is opened with its schema (below, and doc_meta's from
meta.json), never by inference: inferring a parquet schema costs a
Spark job per read, so opening an ``Engine`` would not be free.
"""
from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .fsio import FsIO

# the name of every data file of source part K: part=K.parquet
PART_FILE = re.compile(r"part=(\d+)\.parquet")

# the stored columns of each table; postings end with the shard=S
# directory column
POSTINGS_SCHEMA = ("term string, first_doc long, last_doc long, "
                   "doc_count int, sum_tf long, max_tf int, min_dl long, "
                   "docs_payload binary, tfs_payload binary, "
                   "dls_payload binary, pos_payload binary, shard int")
TERM_STATS_SCHEMA = "term string, df long, cf long"
FIELD_LENS_SCHEMA = "doc_id long, field string, dl int"
TOMBSTONES_SCHEMA = "doc_id long"


class IndexStorage:
    def __init__(self, index_dir: str):
        self.root = index_dir.rstrip("/")
        # side-channel (non-Spark) I/O goes through pyarrow.fs — the
        # index root may be file:// / hdfs:// / s3://; Spark reads the
        # same URIs through Hadoop FS
        self.io = FsIO(self.root)
        index_dir = self.root
        self.meta_path = os.path.join(index_dir, "meta.json")
        self.manifest_dir = os.path.join(index_dir, "manifest")
        self.doc_meta_dir = os.path.join(index_dir, "doc_meta")
        self.postings_dir = os.path.join(index_dir, "postings")
        self.term_stats_dir = os.path.join(index_dir, "term_stats")
        self.field_lens_dir = os.path.join(index_dir, "field_lens")

    # -- meta ---------------------------------------------------------------
    def write_meta(self, meta: dict) -> None:
        self.io.mkdirs(self.root)
        self.io.write_bytes_atomic(
            self.meta_path,
            json.dumps(meta, indent=2, sort_keys=True).encode())

    def read_meta(self) -> dict:
        return json.loads(self.io.read_bytes(self.meta_path))

    def exists(self) -> bool:
        return self.io.exists(self.meta_path)

    # -- manifest (per-partition checkpoints) --------------------------------
    def manifest_path(self, src_part: int) -> str:
        return os.path.join(self.manifest_dir, f"part={src_part}.json")

    def read_json_files(self, dirname: str, prefix: str) -> list[dict]:
        """Read every ``<prefix>*.json`` in a directory — parallel
        driver-side reads (a 100k-partition build on an object store
        would take minutes sequentially); unreadable files skipped."""
        from concurrent.futures import ThreadPoolExecutor
        names = [n for n in self.io.listdir(dirname)
                 if n.startswith(prefix) and n.endswith(".json")]

        def read_one(name):
            try:
                return json.loads(self.io.read_bytes(
                    os.path.join(dirname, name)))
            except (ValueError, OSError, json.JSONDecodeError):
                return None
        if len(names) <= 8:
            rows = [read_one(n) for n in names]
        else:
            with ThreadPoolExecutor(max_workers=32) as pool:
                rows = list(pool.map(read_one, names))
        return [r for r in rows if r is not None]

    def completed_partitions(self) -> dict[int, dict]:
        """Map src_part → manifest row for partitions already built."""
        return {int(row["src_part"]): row
                for row in self.read_json_files(self.manifest_dir,
                                                "part=")
                if row.get("status") == "done" and "src_part" in row}

    # -- table readers (each with its schema: no inference job) -------------
    def doc_meta_schema(self) -> StructType:
        from .build import LAYOUT_VERSION
        schema = self.read_meta().get("doc_meta_schema")
        if schema is None:
            raise ValueError(
                f"{self.meta_path} has no doc_meta_schema: the index "
                f"predates layout {LAYOUT_VERSION}, rebuild it")
        return StructType.fromJson(schema)

    def doc_meta(self, spark: SparkSession) -> DataFrame:
        return (spark.read.schema(self.doc_meta_schema())
                .parquet(self.doc_meta_dir))

    def postings(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(POSTINGS_SCHEMA).parquet(self.postings_dir)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return (spark.read.schema(TERM_STATS_SCHEMA)
                .parquet(self.term_stats_dir))

    def field_lens(self, spark: SparkSession) -> DataFrame:
        """Per-doc per-field lengths (doc_id, field, dl) — lets
        ``compact()`` recompute exact per-field avgdl after deletes."""
        return (spark.read.schema(FIELD_LENS_SCHEMA)
                .parquet(self.field_lens_dir))
