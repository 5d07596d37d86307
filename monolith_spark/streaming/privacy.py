"""Continuous k-anonymous release: streaming privacy-bounded export.

The k-anonymity release (operators/privacy.py) needs an EXACT distinct
user count per quasi-identifier group — a release that under-counts
users could suppress too little. Exact distincts aren't a streaming
aggregate (and approx_count_distinct must never gate a privacy bound),
so the state is per-epoch (quasi, user) partials with their event
counts: distinct-by-construction within an epoch, distinct-merged on
read. Event counts are additive; the distinct-user merge is a set
union — both exact, so the streamed release equals the batch release
over everything streamed so far. EpochSink's epoch-dir + marker
ledger makes it idempotent: replays overwrite their own partition.

State is O(distinct (group, user) pairs) on cheap storage — the same
ledger a batch release would scan, incrementally maintained; a
streaming-state-store groupBy would pin it in executor memory instead.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.streaming.epoch import EpochSink


@dataclass
class ContinuousKAnonymity(EpochSink):
    """foreachBatch sink maintaining per-group distinct-user ledgers
    under ``path``; ``release()`` applies the k bound to everything
    streamed so far."""

    spark: SparkSession
    path: str
    quasi_cols: list[str] = field(default_factory=lambda: ["event_type"])
    user_col: str = "user_id"
    k: int = 5

    def __post_init__(self) -> None:
        self._epochs_dir = self.path + "_epochs"

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy(*self.quasi_cols, self.user_col)
            .agg(F.count("*").alias("n_events"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.path, f"epoch={epoch_id}"))
        )

    def ledger(self) -> DataFrame:
        """The merged [quasi..., user, n_events] ledger so far."""
        if not os.path.exists(self.path):
            schema = ", ".join(f"{c} string" for c in self.quasi_cols)
            return self.spark.createDataFrame(
                [], f"{schema}, {self.user_col} long, n_events long"
            )
        return (
            self.spark.read.parquet(self.path)
            .groupBy(*self.quasi_cols, self.user_col)
            .agg(F.sum("n_events").alias("n_events"))
        )

    def release(self) -> DataFrame:
        """k-anonymous aggregate release over everything streamed so
        far — equal to operators/privacy.py:k_anonymous_release on the
        concatenated stream."""
        g = self.ledger().groupBy(*self.quasi_cols).agg(
            F.count_distinct(F.col(self.user_col)).alias("n_users"),
            F.sum("n_events").alias("n_events"),
        )
        return g.filter(F.col("n_users") >= self.k)
