"""Continuous count-min sketch: streaming frequency state.

Counter addition is the CMS merge operation (operators/sketches.py:
cms_merge), which makes the sketch a perfect continuous aggregate:
each micro-batch appends its own depth×width partial sketch — O(batch)
work with a few-KB output, independent of stream history or key
cardinality — and reads re-merge by summing counters. EpochSink's
epoch-dir + marker ledger makes it idempotent: a replayed epoch
overwrites its own partition instead of double-counting.

This is the streaming path for "what are the heavy hitters so far" at
100 TB/day ingest: bounded state where a streaming groupBy(token)
would hold the whole vocabulary in the state store.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.sketches import cms_estimate, cms_sketch
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class ContinuousCMS(EpochSink):
    """foreachBatch sink maintaining a count-min sketch of ``key_col``
    under ``path`` (epoch-partitioned parquet of counter partials)."""

    spark: SparkSession
    path: str
    key_col: str = "key"
    depth: int = 3
    width: int = 1024

    def __post_init__(self) -> None:
        self._epochs_dir = self.path + "_epochs"

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        cms_sketch(batch_df, self.key_col, self.depth, self.width).write.mode(
            "overwrite"
        ).parquet(os.path.join(self.path, f"epoch={epoch_id}"))

    def sketch(self) -> DataFrame:
        """The merged whole-stream sketch [d, bucket, n]."""
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], "d int, bucket long, n long")
        return (
            self.spark.read.parquet(self.path)
            .groupBy("d", "bucket")
            .agg(F.sum("n").alias("n"))
        )

    def estimate(self, keys: DataFrame) -> DataFrame:
        """Frequency upper bounds for ``keys`` against everything
        streamed so far."""
        return cms_estimate(self.sketch(), keys, self.key_col, self.depth, self.width)
