"""Continuous cross-series correlation state.

The batch operators (workload.py: ts_correlated_series /
ts_leading_indicator) correlate every series' daily volume against the
corpus purchase trend. Their sufficient statistics are a PERFECT
continuous aggregate: the per-(series, day) and per-day DECIMAL sums
simply add across micro-batches — so the streaming form keeps one
epoch-partitioned parquet per side ((signature, day, yv) and
(day, xv) partials) and re-derives the exact whole-stream Pearson
correlations on read: same closed-form double formula over the merged
sums, no retained raw samples.

This is how a live ingest keeps 'what correlates with revenue'
CURRENT without rescanning history: O(batch) work per micro-batch,
state bounded by |series| × |days| (already day-grain — the massive
points→days reduction happens before anything persists), and the
derived correlations are exactly those the batch query computes over
everything streamed so far (asserted in tests — DECIMAL partials
re-associate exactly, the double conversion happens once at read).
Replays are idempotent by EpochSink's epoch-dir + marker ledger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.streaming.epoch import EpochSink

_DEC = "decimal(18,2)"


@dataclass
class ContinuousCorrelation(EpochSink):
    """foreachBatch sink maintaining day-grain Pearson state under
    ``path``; ``correlations()`` derives the exact whole-stream
    per-series correlation vs the purchase trend.

    Expects samples rows [labels map, timestamp, value, signature]
    (the canonical events→samples projection plus the signature the
    batch query groups by). ``lo``/``hi`` bound the analysis window in
    epoch-ms, matching the batch query's fixture window by default.
    """

    spark: SparkSession
    path: str
    lo: int = 1_704_067_200_000  # 2024-01-01 (JAN1 — the fixture window)
    hi: int = 1_705_708_800_000  # 2024-01-20
    day_ms: int = 86_400_000
    min_days: int = 3

    def __post_init__(self) -> None:
        self.y_path = os.path.join(self.path, "y")
        self.x_path = os.path.join(self.path, "x")
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def _day(self):
        return (
            F.floor((F.col("timestamp") - F.lit(self.lo)) / F.lit(self.day_ms))
            .cast("long")
            .alias("day")
        )

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        s = batch_df.filter(F.col("timestamp").between(self.lo, self.hi))
        d = F.col("value").cast(_DEC)
        epoch = f"epoch={epoch_id}"
        (
            s.groupBy("signature", self._day())
            .agg(F.sum(d).cast(_DEC).alias("yv"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.y_path, epoch))
        )
        (
            s.filter(
                F.try_element_at("labels", F.lit("event_type")) == "purchase"
            )
            .groupBy(self._day())
            .agg(F.sum(d).cast(_DEC).alias("xv"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.x_path, epoch))
        )

    def _merged(self) -> tuple[DataFrame, DataFrame] | None:
        """Whole-stream day-grain sums (exact DECIMAL re-association
        of the epoch partials)."""
        if not (os.path.exists(self.y_path) and os.path.exists(self.x_path)):
            return None
        y = (
            self.spark.read.parquet(self.y_path)
            .groupBy("signature", "day")
            .agg(F.sum("yv").cast(_DEC).alias("yv"))
        )
        x = (
            self.spark.read.parquet(self.x_path)
            .groupBy("day")
            .agg(F.sum("xv").cast(_DEC).alias("xv"))
        )
        return y, x

    def _corr_over(self, joined: DataFrame, group_cols: list[str]) -> DataFrame:
        """Pearson over the day-matched pairs per group — the batch
        queries' exact construction (DECIMAL statistics, one double
        conversion, closed form)."""
        c = joined.groupBy(*group_cols).agg(
            F.count("*").alias("n_days"),
            F.count("*").cast("double").alias("n"),
            F.sum("xv").cast("double").alias("sx"),
            F.sum("yv").cast("double").alias("sy"),
            F.sum(F.col("xv") * F.col("xv")).cast("double").alias("sxx"),
            F.sum(F.col("yv") * F.col("yv")).cast("double").alias("syy"),
            F.sum(F.col("xv") * F.col("yv")).cast("double").alias("sxy"),
        )
        n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
        varx = n * F.col("sxx") - sx * sx
        vary = n * F.col("syy") - sy * sy
        return c.filter(
            (F.col("n_days") >= self.min_days) & (varx > 0.0) & (vary > 0.0)
        ).select(
            *group_cols,
            "n_days",
            ((n * F.col("sxy") - sx * sy) / F.sqrt(varx * vary)).alias("corr"),
        )

    def correlations(self) -> DataFrame:
        """[signature, n_days, corr] over everything streamed so far —
        identical to the batch ts_correlated_series construction."""
        m = self._merged()
        if m is None:
            return self.spark.createDataFrame(
                [], "signature string, n_days long, corr double"
            )
        y, x = m
        return self._corr_over(y.join(F.broadcast(x), "day"), ["signature"])

    def leading_indicators(self, max_lag: int = 3) -> DataFrame:
        """[signature, best_lag, n_days, corr] — the batch
        ts_leading_indicator over everything streamed so far, derived
        from the SAME persisted state: lags are a read-time shift of
        the day join (explode over a small literal array), so the
        stream never keeps per-lag state."""
        from pyspark.sql import Window

        m = self._merged()
        if m is None:
            return self.spark.createDataFrame(
                [], "signature string, best_lag long, n_days long, corr double"
            )
        y, x = m
        yl = y.withColumn(
            "lag",
            F.explode(
                F.array(*[F.lit(i).cast("long") for i in range(max_lag + 1)])
            ),
        )
        joined = yl.join(
            F.broadcast(x.withColumnRenamed("day", "xday")),
            F.col("xday") == F.col("day") + F.col("lag"),
        )
        k = self._corr_over(joined, ["signature", "lag"])
        w = Window.partitionBy("signature").orderBy(
            F.abs(F.col("corr")).desc(), F.col("lag").asc()
        )
        return (
            k.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("signature", F.col("lag").alias("best_lag"), "n_days", "corr")
        )
