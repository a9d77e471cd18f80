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
                           _spimi_writer, refresh_stats)
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
    Then the driver refreshes the stats and meta.json
    (``build.refresh_stats``).

    Idempotent per stream epoch: each part's manifest records the
    ``epoch_id`` that wrote it. A ``foreachBatch`` re-delivery of that
    epoch writes only the parts its first delivery did not commit
    (none, for a one-part batch), then refreshes the stats, which a
    crash may have cut off; an epoch below the last recorded one
    writes nothing. ``epoch_id=-1`` (not a stream batch) always
    appends."""
    storage = IndexStorage(index_dir)
    meta = storage.read_meta()
    P = meta["num_partitions"]
    # field config must match the base build or appended docs silently
    # lose their field postings / bigram shingles
    fields: dict[str, str] = meta.get("field_map") or {
        f: f for f in meta.get("fields", []) if f != "content"}
    bigrams = bool(meta.get("bigrams", False))
    meta_cols: list[str] = meta.get("meta_cols") or []
    done = storage.completed_partitions()
    redone = {p for p, m in done.items()
              if epoch_id >= 0 and m.get("epoch", -1) == epoch_id}
    # new parts live above every existing one → doc ids stay unique; a
    # re-delivery keeps its first delivery's base, below its parts
    top = min(redone, default=float("inf"))
    base_part = max((p for p in done if p < top), default=P - 1) + 1
    if epoch_id >= 0 and epoch_id < max(
            (m.get("epoch", -1) for m in done.values()), default=-1):
        return base_part, None
    writer = _spimi_writer(
        storage, meta["with_positions"], 1, fields, bigrams, meta_cols,
        meta_schema=storage.doc_meta_schema(),
        tz=spark.conf.get("spark.sql.session.timeZone"), epoch=epoch_id)

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
         .filter(~F.col("src_part").isin(sorted(redone)))
         .groupBy("src_part")
         .applyInPandas(writer, MANIFEST_SCHEMA)).collect()
    elif batch.num_rows and base_part not in redone:
        # the writer casts doc_meta to its stored schema, so zoned
        # timestamps keep their instant here too
        pdf = batch.to_pandas()
        pdf["src_part"] = base_part
        writer(pdf)

    refresh_stats(spark, storage, meta)
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
