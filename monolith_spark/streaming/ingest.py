"""Structured Streaming ingest — the Spark mapping of the reference's
chunk lifecycle (SURVEY.md §2.6).

Reference behavior being reproduced:
- ST1 chunk swap: a timer thread seals the current chunk every
  chunk_size (/root/reference/src/db.rs:85-101, :269-318). Here a
  processing-time trigger drives micro-batches and the chunk_id
  partition column does the sealing — a partition simply stops
  receiving appends once the stream has moved past it.
- ST2 late-data drop: points outside the current chunk are silently
  discarded (/root/reference/src/db.rs:176-194,
  /root/reference/src/chunk/chunk.rs:110-121). Implemented as a
  high-watermark policy in foreachBatch (late = older than the max
  timestamp seen minus allowed_lateness).
- ST4 write concurrency: the reference serializes inserts behind a
  chunk RwLock; content-hash series ids make micro-batch appends
  lock-free here (duplicate dim rows collapse on read).
- WAL/recovery (S8, unwired in the reference): Structured Streaming
  checkpointing + an epoch ledger for exactly-once fact appends.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from monolith_spark.engine import MonolithDB
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class StreamingIngest(EpochSink):
    """foreachBatch sink writing a samples stream into a MonolithDB.

    late_policy:
      - "keep": append everything; the chunk_id partitioning routes
        late points to their correct (older) partition — strictly
        better than the reference, which drops them.
      - "drop": reference parity (ST2) — drop points older than
        high_watermark - allowed_lateness_ms.
    """

    db: MonolithDB
    late_policy: str = "keep"
    allowed_lateness_ms: int = 0
    high_watermark_ms: int = field(default=0, init=False)

    def __post_init__(self) -> None:
        if self.late_policy not in ("keep", "drop"):
            raise ValueError(f"late_policy must be keep|drop, got {self.late_policy!r}")
        # Before start() binds it to a stream: the ledger of batches
        # handed to process_batch directly.
        self._epochs_dir = os.path.join(self.db.path, "_epochs")

    # -- exactly-once: foreachBatch may replay an epoch after recovery;
    # -- MonolithDB.write is append-only, so the epoch ledger makes it
    # -- idempotent (the streaming analog of the reference's WAL design,
    # -- its doc/wal.md).
    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        window = None
        if self.late_policy == "drop":
            row = batch_df.selectExpr("max(timestamp) AS m").head()
            batch_max = row["m"] if row and row["m"] is not None else None
            if batch_max is not None:
                self.high_watermark_ms = max(self.high_watermark_ms, batch_max)
            cutoff = self.high_watermark_ms - self.allowed_lateness_ms
            window = (cutoff, 2**62)
        # an exemplar-bearing stream (scrape_stream with_exemplars)
        # routes the suffix columns into the exemplar store; both
        # writes sit inside the same epoch-ledger guard
        has_ex = {"exemplar_labels", "exemplar_value", "exemplar_ts"} <= set(
            batch_df.columns
        )
        self.db.write(
            batch_df.select("labels", "timestamp", "value"), window=window
        )
        if has_ex:
            from pyspark.sql import functions as F

            ex = batch_df.filter(F.col("exemplar_value").isNotNull()).select(
                "labels",
                F.col("exemplar_ts").alias("timestamp"),
                F.col("exemplar_value").alias("value"),
                "exemplar_labels",
            )
            if window is not None:
                ex = ex.filter(
                    F.col("timestamp").between(window[0], window[1])
                )
            if ex.limit(1).count() > 0:
                self.db.write_exemplars(ex)

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: float | None = None,
    ) -> StreamingQuery:
        """Attach the sink to a streaming [labels, timestamp, value]
        DataFrame. Epoch ids restart at 0 with each checkpoint, so the
        stream's ledger lives in ``checkpoint_dir``: two streams into
        one db, or a stream restarted on a fresh checkpoint, never skip
        each other's epochs."""
        self._epochs_dir = os.path.join(checkpoint_dir, "_epochs")
        return super().start(stream_df, checkpoint_dir, trigger_seconds)


def dedup_stream(samples_stream: DataFrame, watermark_delay: str = "1 minute") -> DataFrame:
    """Drop duplicate samples across micro-batches (retransmission
    safety: Prometheus remote-write clients retry whole batches on
    timeout, so at-least-once delivery duplicates points).

    The watermarked event-time column MUST be among the dedup keys —
    that is what lets Spark evict state once the watermark passes it
    (otherwise state grows with stream history, not with the delay
    window). event_time is derived 1:1 from timestamp, so including it
    changes no semantics. The map-typed labels column can't be a dedup
    key (maps aren't comparable); the content-hash series_id is its
    stand-in and is re-derived downstream anyway.
    """
    from pyspark.sql import functions as F

    from monolith_spark.labels import series_id_expr

    return (
        samples_stream.withColumn("series_id", series_id_expr("labels"))
        .withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
        .withWatermark("event_time", watermark_delay)
        .dropDuplicates(["series_id", "event_time", "value"])
        .drop("series_id", "event_time")
    )


def samples_file_stream(spark, source_dir: str, max_files_per_trigger: int = 10) -> DataFrame:
    """File-based streaming source of samples parquet (the test/demo
    stand-in for a Kafka remote-write feed, SURVEY §2.1 S1)."""
    from monolith_spark.labels import SAMPLES_SCHEMA

    return (
        spark.readStream.schema(SAMPLES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def session_stream(
    samples_stream: DataFrame,
    gap: str = "30 seconds",
    watermark_delay: str = "1 minute",
) -> DataFrame:
    """Streaming gap-sessionization: points of a series whose
    consecutive gaps stay within ``gap`` merge into one session row
    [series_id, session_start_ms, session_end_ms, n_points, sum_value]
    — the streaming twin of operators/timeseries.py:sessionize.

    F.session_window keeps per-key open-session state and merges
    overlapping windows as points arrive; the watermark closes
    sessions and evicts their state, so state is bounded by the number
    of series with activity inside the watermark horizon, not by
    stream history. Sums run in DECIMAL (micro-batch arrival order
    must not change the result).
    """
    from pyspark.sql import functions as F

    from monolith_spark.labels import series_id_expr

    return (
        samples_stream.withColumn("series_id", series_id_expr("labels"))
        .withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
        .withWatermark("event_time", watermark_delay)
        .groupBy(F.session_window("event_time", gap), F.col("series_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "series_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            F.unix_millis(F.col("session_window.end")).alias("session_end_ms"),
            "n_points",
            "sum_value",
        )
    )
