"""Incremental index maintenance via Structured Streaming.

The reference's near-real-time story is ES's 1 s refresh
(/root/reference/openaleph_search/settings.py:57) — out of scope for
the batch north_rule, but the natural Spark-first extension: a
``foreachBatch`` sink that appends each micro-batch of new documents to
the index (SURVEY.md §2.5 streaming note). Like a Lucene refresh, a
small micro-batch becomes ONE new source part, written by the driver
after one collect; only a batch larger than a part runs a Spark job.

Safety: appends change collection stats (N, avgdl) — harmless for
pruning, because impact bounds are computed live at query time from
each block's stored (max_tf, min_dl) against the CURRENT stats; no
encode-time bound can go stale.
"""
from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index.build import (MANIFEST_SCHEMA, TARGET_DOCS_PER_PARTITION,
                           _read_field_stats, _spimi_writer,
                           aggregate_term_stats)
from ..index.storage import IndexStorage


def append_batch(spark: SparkSession, docs: DataFrame, index_dir: str,
                 epoch_id: int) -> tuple[int, pa.Table | None]:
    """Index one micro-batch as new source parts above the existing
    ones: same SPIMI packed-block pipeline (same field/bigram config as
    the base build, read back from meta), stats refreshed. → (first new
    part, the batch as collected Arrow, or None when it ran as a job).

    Sized by the work, like a read: one collect of at most
    ``TARGET_DOCS_PER_PARTITION + 1`` rows (a JVM-only job). A batch
    that fits one part is written by the driver as part ``base_part``,
    running the same ``_spimi_writer`` body as a build task; a larger
    batch keeps the grouped job, hashed over ``num_partitions`` parts.
    Then the driver refreshes term stats and meta.json (``n_docs``
    summed from the part manifests)."""
    storage = IndexStorage(index_dir)
    meta = storage.read_meta()
    P = meta["num_partitions"]
    S = meta["num_shards"]
    # field config must match the base build or appended docs silently
    # lose their field postings / bigram shingles
    fields: dict[str, str] = meta.get("field_map") or {
        f: f for f in meta.get("fields", []) if f != "content"}
    bigrams = bool(meta.get("bigrams", False))
    meta_cols: list[str] = meta.get("meta_cols") or []
    # new parts live above every existing one → doc ids stay unique
    base_part = (max(storage.completed_partitions(), default=P - 1) + 1)
    writer = _spimi_writer(
        storage, meta["with_positions"], 1, lambda sp: sp % S, fields,
        bigrams, meta_cols, meta_schema=storage.doc_meta_schema(),
        tz=spark.conf.get("spark.sql.session.timeZone"))

    base_cols = ["repo", "path", "commit", "lang", "content"]
    extra_cols = [c for c in {*fields.values(), *meta_cols}
                  if c not in base_cols]
    prepared = docs.select(
        *base_cols, *extra_cols,
        F.sha2(F.col("content"), 256).alias("content_sha256"))
    batch = prepared.limit(TARGET_DOCS_PER_PARTITION + 1).toArrow()
    if batch.num_rows > TARGET_DOCS_PER_PARTITION:
        batch = None
        (prepared.withColumn("src_part", (F.lit(base_part) + F.pmod(
            F.xxhash64("repo", "path", "commit"), F.lit(P))).cast("int"))
         .groupBy("src_part")
         .applyInPandas(writer, MANIFEST_SCHEMA)).collect()
    elif batch.num_rows:
        # the writer casts doc_meta to its stored schema, so zoned
        # timestamps keep their instant here too
        pdf = batch.to_pandas()
        pdf["src_part"] = base_part
        writer(pdf)

    # per-field avgdl over ALL docs (base + appended) from the
    # per-partition field-stat partials — the scoring stats
    avgdl_by_field = _read_field_stats(storage)
    aggregate_term_stats(spark, storage)
    meta.update({
        "n_docs": sum(m["docs"]
                      for m in storage.completed_partitions().values()),
        "avgdl": avgdl_by_field.get("content", 0.0),
        "avgdl_by_field": avgdl_by_field,
        "built_partitions": meta.get("built_partitions", 0) + 1,
    })
    storage.write_meta(meta)
    return base_part, batch


def stream_index(spark: SparkSession, docs_stream: DataFrame,
                 index_dir: str, checkpoint_dir: str | None = None,
                 trigger_seconds: int = 5):
    """Attach the append sink to a streaming docs source.
    → StreamingQuery (caller drives/stops it)."""
    checkpoint = checkpoint_dir or os.path.join(index_dir, "_checkpoint")
    return (docs_stream.writeStream
            .foreachBatch(lambda df, eid: append_batch(
                df.sparkSession, df, index_dir, eid))
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start())
