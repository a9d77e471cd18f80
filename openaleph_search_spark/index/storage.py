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

The commit rule: a part is live once its manifest exists. Every writer
writes a part's data files first and its manifest last, so a writer
that dies in between leaves a part that no reader and no statistic
sees, until a resumed build rewrites it. This module is the one owner
of that file set: ``parts()`` lists the live parts (``listing()``
also the uncommitted ones, which the Spark doc_meta read drops),
``part_path()`` names their files, ``tombstone_paths()`` and
``dead_ids()`` read the tombstones, and ``stats()`` sums the live
parts' statistics. Readers, build, append and compaction ask it
instead of listing directories.

Every table is opened with its schema (below, and doc_meta's from
meta.json), never by inference: inferring a parquet schema costs a
Spark job per read, so opening an ``Engine`` would not be free.
"""
from __future__ import annotations

import json
import os
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .fsio import FsIO

# the name of every data file of source part K, and of its manifest
PART_FILE = re.compile(r"part=(\d+)\.parquet")
MANIFEST_FILE = re.compile(r"part=(\d+)\.json")

# the stored columns of each table; postings end with the shard=S
# directory column
POSTINGS_SCHEMA = ("term string, first_doc long, last_doc long, "
                   "doc_count int, sum_tf long, max_tf int, min_dl long, "
                   "docs_payload binary, tfs_payload binary, "
                   "dls_payload binary, pos_payload binary, shard int")
TERM_STATS_SCHEMA = "term string, df long, cf long"
TOMBSTONES_SCHEMA = "doc_id long"


class IndexStorage:
    def __init__(self, index_dir: str, num_shards: int | None = None):
        """``num_shards``: from meta.json when not given."""
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
        self._tombs = os.path.join(index_dir, "tombstones")
        self._num_shards = num_shards

    @property
    def num_shards(self) -> int:
        if self._num_shards is None:
            self.read_meta()
        return self._num_shards

    # -- meta ---------------------------------------------------------------
    def write_meta(self, meta: dict) -> None:
        self.io.mkdirs(self.root)
        self.io.write_bytes_atomic(
            self.meta_path,
            json.dumps(meta, indent=2, sort_keys=True).encode())

    def read_meta(self) -> dict:
        meta = json.loads(self.io.read_bytes(self.meta_path))
        if self._num_shards is None:
            self._num_shards = meta.get("num_shards")
        return meta

    def exists(self) -> bool:
        return self.io.exists(self.meta_path)

    # -- the file set -------------------------------------------------------
    def part_path(self, table: str, p: int) -> str:
        """The URI of part ``p``'s file in ``table`` (``postings``,
        ``doc_meta``, ``field_lens``, ``manifest`` or ``fields``, its
        per-field (docs, tokens) partial)."""
        if table == "postings":
            return (f"{self.postings_dir}/shard={p % self.num_shards}"
                    f"/part={p}.parquet")
        if table == "manifest":
            return f"{self.manifest_dir}/part={p}.json"
        if table == "fields":
            return f"{self.manifest_dir}/fields_part={p}.json"
        return f"{self.root}/{table}/part={p}.parquet"

    def parts(self) -> list[int]:
        """The live source parts, sorted."""
        return self.listing()[0]

    def listing(self) -> tuple[list[int], list[int]]:
        """(live parts: a manifest and a doc_meta file; uncommitted
        parts: a doc_meta file only), sorted. ValueError for a doc_meta
        file not named ``part=<int>.parquet`` (a layout-6 compaction or
        a foreign writer left it): the index must be rebuilt."""
        from .build import LAYOUT_VERSION
        data = set()
        for name in self.io.listdir(self.doc_meta_dir):
            if not name.endswith(".parquet"):
                continue
            m = PART_FILE.fullmatch(name)
            if m is None:
                raise ValueError(
                    f"the index needs the layout-{LAYOUT_VERSION} per-part "
                    f"files, but doc_meta/{name} is not part=<int>.parquet "
                    "(an index compacted under layout 6 or older, or a "
                    "foreign file): rebuild the index")
            data.add(int(m.group(1)))
        committed = {int(m.group(1)) for m in map(
            MANIFEST_FILE.fullmatch, self.io.listdir(self.manifest_dir))
            if m}
        return sorted(data & committed), sorted(data - committed)

    def tombstone_paths(self) -> list[str]:
        """The tombstone files (filesystem paths)."""
        return self._parquet_paths(self._tombs)

    def term_stats_paths(self) -> list[str]:
        """The term dictionary's files (filesystem paths)."""
        return self._parquet_paths(self.term_stats_dir)

    def _parquet_paths(self, d: str) -> list[str]:
        return [self.io.path(os.path.join(d, n)) for n in self.io.listdir(d)
                if n.endswith(".parquet")]

    def dead_ids(self, paths: list[str] | None = None) -> np.ndarray:
        """Sorted unique tombstoned ids of ``paths`` (default: all)."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        ids = ds.dataset(
            self.tombstone_paths() if paths is None else paths,
            filesystem=self.io.fs,
            schema=pa.schema([("doc_id", pa.int64())])
        ).to_table().column("doc_id")
        return np.unique(ids.to_numpy())

    def add_tombstones(self, ids: np.ndarray) -> None:
        """Tombstone ``ids`` in one new file, written atomically."""
        import uuid
        import pyarrow as pa
        self.io.mkdirs(self._tombs)
        self.io.write_parquet_atomic(
            pa.table({"doc_id": pa.array(ids, pa.int64())}),
            os.path.join(self._tombs, f"{uuid.uuid4().hex}.parquet"))

    def drop_tombstones(self) -> None:
        """Remove every tombstone (compaction has folded them in)."""
        self.io.delete_dir(self._tombs, missing_ok=True)

    def stats(self, parts: list[int]) -> dict:
        """``n_docs``, ``avgdl`` and ``avgdl_by_field`` of ``parts``,
        summed from their per-field (docs, tokens) partials (every doc
        counts in every field's denominator)."""
        totals: dict[str, list[int]] = {}
        for partial in self._read_json(
                [self.part_path("fields", p) for p in parts]):
            for fname, (docs_f, toks_f) in partial.items():
                t = totals.setdefault(fname, [0, 0])
                t[0] += docs_f
                t[1] += toks_f
        by_field = {f: (t[1] / t[0] if t[0] else 0.0)
                    for f, t in totals.items()}
        return {"n_docs": totals.get("content", [0])[0],
                "avgdl": by_field.get("content", 0.0),
                "avgdl_by_field": by_field}

    def _read_json(self, paths: list[str]) -> list[dict]:
        """Read JSON files — parallel driver-side reads (a
        100k-partition build on an object store would take minutes
        sequentially); unreadable files skipped."""
        from concurrent.futures import ThreadPoolExecutor

        def read_one(path):
            try:
                return json.loads(self.io.read_bytes(path))
            except (ValueError, OSError, json.JSONDecodeError):
                return None
        if len(paths) <= 8:
            rows = [read_one(p) for p in paths]
        else:
            with ThreadPoolExecutor(max_workers=32) as pool:
                rows = list(pool.map(read_one, paths))
        return [r for r in rows if r is not None]

    def completed_partitions(self) -> dict[int, dict]:
        """Map src_part → manifest row for partitions already built."""
        names = [n for n in self.io.listdir(self.manifest_dir)
                 if MANIFEST_FILE.fullmatch(n)]
        return {int(row["src_part"]): row
                for row in self._read_json(
                    [os.path.join(self.manifest_dir, n) for n in names])
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

    def doc_meta(self, spark: SparkSession,
                 uncommitted: list[int] | None = None) -> DataFrame:
        """doc_meta of the live parts, tombstoned docs included: one
        directory scan, any ``uncommitted`` parts (default: listed)
        dropped by a pushed ``src_part`` filter."""
        if uncommitted is None:
            uncommitted = self.listing()[1]
        dm = (spark.read.schema(self.doc_meta_schema())
              .parquet(self.doc_meta_dir))
        if not uncommitted:
            return dm
        return dm.where(
            f"src_part NOT IN ({','.join(map(str, uncommitted))})")

    def live_doc_meta(self, spark: SparkSession,
                      uncommitted: list[int] | None = None,
                      tomb_paths: list[str] | None = None) -> DataFrame:
        """``doc_meta`` minus the tombstoned ids (``tomb_paths``,
        default: listed): the live docs, the S6 full export."""
        dm = self.doc_meta(spark, uncommitted)
        if not (self.tombstone_paths() if tomb_paths is None
                else tomb_paths):
            return dm
        dead = (spark.read.schema(TOMBSTONES_SCHEMA)
                .parquet(self._tombs).select("doc_id").distinct())
        return dm.join(dead, "doc_id", "left_anti")

    def postings(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(POSTINGS_SCHEMA).parquet(self.postings_dir)

    def term_stats(self, spark: SparkSession) -> DataFrame:
        return (spark.read.schema(TERM_STATS_SCHEMA)
                .parquet(self.term_stats_dir))
