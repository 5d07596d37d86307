"""Continuous aggregate (hypertable-rollup analog): a downsampled
materialization maintained incrementally as data streams in.

The reference stores raw points only and leaves all aggregation to the
client; at 100 TB the standard fix is a continuous aggregate — each
micro-batch contributes MERGEABLE partials (sum/count/min/max per
(series, bucket)), and reads re-merge them. Appending partials is
O(batch), independent of table history; re-aggregation on read touches
only the rollup table (orders of magnitude smaller than samples).

Correctness properties:
- partials are decomposable aggregates, so append order and batch
  boundaries never change the merged result;
- replays are idempotent via EpochSink's epoch ledger (a replayed
  epoch is skipped, not re-appended);
- avg is derived at read time (sum/count) — never averaged partials.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import series_id_expr
from monolith_spark.streaming.epoch import EpochSink


def bucket_partials(samples: DataFrame, step_ms: int) -> DataFrame:
    """Mergeable partial aggregates per (series_id, bucket_ms)."""
    bucket = (F.floor(F.col("timestamp") / F.lit(step_ms)) * F.lit(step_ms)).cast("long")
    return (
        samples.select(
            series_id_expr("labels").alias("series_id"),
            bucket.alias("bucket_ms"),
            "value",
        )
        .groupBy("series_id", "bucket_ms")
        .agg(
            F.sum(F.col("value").cast("decimal(28,6)")).alias("psum"),
            F.count("*").alias("pcount"),
            F.min("value").alias("pmin"),
            F.max("value").alias("pmax"),
        )
    )


@dataclass
class ContinuousRollup(EpochSink):
    """foreachBatch sink maintaining the rollup table beside a
    MonolithDB (path: <db>/rollup_<step_ms>)."""

    db: MonolithDB
    step_ms: int

    def __post_init__(self) -> None:
        self.path = os.path.join(self.db.path, f"rollup_{self.step_ms}")
        self._epochs_dir = self.path + "_epochs"

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # Per-epoch partition dir + overwrite: a replay after a crash
        # BETWEEN the write and the marker rewrites the same dir rather
        # than appending a second copy — idempotent even without the
        # marker (which remains as a cheap skip).
        bucket_partials(batch_df, self.step_ms).write.mode("overwrite").parquet(
            os.path.join(self.path, f"epoch={epoch_id}")
        )

    def read(self) -> DataFrame:
        """Merged rollup: [series_id, bucket_ms, sum_value, n_points,
        min_value, max_value, avg_value]."""
        if not os.path.exists(self.path):
            return self.db.spark.createDataFrame(
                [],
                "series_id long, bucket_ms long, sum_value double, "
                "n_points long, min_value double, max_value double, avg_value double",
            )
        p = self.db.spark.read.parquet(self.path)
        return (
            p.groupBy("series_id", "bucket_ms")
            .agg(
                F.sum("psum").alias("dsum"),
                F.sum("pcount").alias("n_points"),
                F.min("pmin").alias("min_value"),
                F.max("pmax").alias("max_value"),
            )
            .select(
                "series_id",
                "bucket_ms",
                F.col("dsum").cast("double").alias("sum_value"),
                "n_points",
                "min_value",
                "max_value",
                (F.col("dsum") / F.col("n_points")).cast("double").alias("avg_value"),
            )
        )
