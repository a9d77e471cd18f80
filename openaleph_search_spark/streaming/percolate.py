"""Streaming percolation: continuous watchlist alerting.

The reference's percolation is operationally a streaming concern —
every NEW document is matched against the stored watchlist queries as
it arrives (/root/reference/docs/percolation.md: ingest-time alerting
against 2.1M registered entities). The batch operator
(``query/percolate.percolate_docs``) is one ``mapInArrow``
transformation with a driver-compiled, closure-broadcast watchlist —
stateless per batch — so it lifts onto Structured Streaming unchanged:
the SAME emitter and vectorized trigger+verify kernel run over each
micro-batch, on the source's own splits.

Two entry points:

* ``percolate_stream(stream_df, stored, …)`` → streaming alert
  DataFrame (caller attaches any sink: kafka, parquet, memory).
* ``alert_stream(spark, stream_df, index_dir, …)`` → StreamingQuery
  appending alerts to ``<index>/alerts/`` using the watchlist
  REGISTERED in the index (``register_watchlist``), checkpointed —
  the register-once / alert-forever deployment shape.
"""
from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..query.percolate import (DEFAULT_SLOP, StoredQuery, load_watchlist,
                               percolate_docs)


def percolate_stream(stream_df: DataFrame, stored: list[StoredQuery],
                     id_cols: list[str] | None = None,
                     text_col: str = "content",
                     slop: int = DEFAULT_SLOP) -> DataFrame:
    """Streaming alert DataFrame: one row per (doc, matched entity)
    with score + matched names. Stateless map — no watermark needed;
    each micro-batch percolates independently with constant memory."""
    return percolate_docs(stream_df, stored, id_cols=id_cols,
                          text_col=text_col, slop=slop)


def alert_stream(spark: SparkSession, stream_df: DataFrame,
                 index_dir: str,
                 id_cols: list[str] | None = None,
                 text_col: str = "content",
                 slop: int = DEFAULT_SLOP,
                 sink_dir: str | None = None,
                 checkpoint_dir: str | None = None,
                 trigger_seconds: int = 5):
    """Register-once / alert-forever: percolate the stream against the
    watchlist stored in the index (``register_watchlist``), appending
    alert rows to parquet under ``<index>/alerts/`` (exactly-once via
    the streaming checkpoint + idempotent file sink).
    → StreamingQuery (caller drives/stops it)."""
    from ..index.storage import IndexStorage
    storage = IndexStorage(index_dir)
    stored = load_watchlist(storage)
    alerts = percolate_stream(stream_df, stored, id_cols=id_cols,
                              text_col=text_col, slop=slop)
    sink = sink_dir or os.path.join(index_dir, "alerts")
    checkpoint = checkpoint_dir or os.path.join(
        index_dir, "_alert_checkpoint")
    return (alerts.writeStream
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .start())
