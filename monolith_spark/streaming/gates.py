"""Continuous adaptive quality-gate state: streaming per-source
token-length histograms.

The batch operator (workload.py:docs_adaptive_length_gate_q) derives
exact per-source [q05, q95] bands from a compact (source, n_tokens)
histogram. Histogram partials are a PERFECT continuous aggregate —
counts simply add — so the streaming form keeps one epoch-partitioned
parquet of per-batch (source, n_tokens, c) rows and re-derives the
exact whole-stream thresholds on read: the same value-at-rank
construction, over the merged histogram, with no retained raw docs.

This is how a 100 TB/day ingest keeps its quality gates CURRENT
without rescanning the corpus: O(batch) work per micro-batch, state
bounded by |sources| × |distinct lengths|, and the derived thresholds
are exactly those the batch gate would compute over everything
streamed so far (asserted in tests). Replays are idempotent by
EpochSink's epoch-dir + marker ledger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from monolith_spark.operators.text import token_count
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class ContinuousLengthGate(EpochSink):
    """foreachBatch sink maintaining per-source token-length histogram
    state under ``path``; ``thresholds()`` derives the exact [q05,q95]
    band per source over everything streamed so far."""

    spark: SparkSession
    path: str
    text_col: str = "text"
    source_col: str = "source"

    def __post_init__(self) -> None:
        self._epochs_dir = self.path + "_epochs"

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.select(
                F.col(self.source_col).alias("source"),
                token_count(self.text_col).cast("long").alias("v"),
            )
            .groupBy("source", "v")
            .agg(F.count("*").alias("c"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.path, f"epoch={epoch_id}"))
        )

    def histogram(self) -> DataFrame:
        """Merged whole-stream histogram [source, v, c]."""
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], "source string, v long, c long")
        return (
            self.spark.read.parquet(self.path)
            .groupBy("source", "v")
            .agg(F.sum("c").alias("c"))
        )

    def thresholds(self) -> DataFrame:
        """Exact per-source [q05_tokens, q95_tokens] over everything
        streamed so far — identical to the batch gate's value-at-rank
        construction over the merged histogram."""
        h = self.histogram()
        ch = h.select(
            "source",
            "v",
            F.sum("c").over(Window.partitionBy("source").orderBy("v")).alias("cum"),
            F.sum("c").over(Window.partitionBy("source")).alias("cnt"),
        )
        lo_rank = F.greatest(F.expr("(cnt*5+99) div 100"), F.lit(1))
        hi_rank = F.expr("(cnt*95+99) div 100")
        return ch.groupBy("source").agg(
            F.min(F.when(F.col("cum") >= lo_rank, F.col("v"))).alias("q05_tokens"),
            F.min(F.when(F.col("cum") >= hi_rank, F.col("v"))).alias("q95_tokens"),
        )

    def drift(self) -> DataFrame:
        """[source, n_docs, tv_dist] — the batch
        docs_distribution_drift statistic (per-source total-variation
        distance from the corpus length distribution) derived from the
        SAME persisted histogram state: histogram partials add exactly,
        the TV numerator is pure integer arithmetic over the merged
        (source, bin) counts, so the streamed statistic equals the
        batch query over everything streamed so far (asserted in
        tests). This is the live curation dashboard pairing for the
        thresholds() gate — drift tells you WHEN a source's profile
        moved; thresholds() re-baselines the gate after it has."""
        d19 = "decimal(19,0)"
        sb = (
            self.histogram()
            .groupBy(
                "source",
                (F.col("v") / F.lit(10)).cast("long").alias("bin"),
            )
            .agg(F.sum("c").cast(d19).alias("s"))
        )
        cb = sb.groupBy("bin").agg(F.sum("s").cast(d19).alias("c"))
        st = sb.groupBy("source").agg(F.sum("s").cast(d19).alias("stot"))
        ct = sb.agg(F.sum("s").cast(d19).alias("ctot"))
        j = (
            sb.join(cb, "bin")
            .join(F.broadcast(st), "source")
            .crossJoin(F.broadcast(ct))
            .select(
                "source",
                F.abs(
                    F.col("s") * F.col("ctot") - F.col("c") * F.col("stot")
                ).alias("term"),
                "c",
            )
        )
        a = j.groupBy("source").agg(
            F.sum("term").alias("t1"), F.sum("c").alias("cov")
        )
        return (
            a.join(F.broadcast(st), "source")
            .crossJoin(F.broadcast(ct))
            .select(
                "source",
                F.col("stot").cast("long").alias("n_docs"),
                (
                    (
                        F.col("t1")
                        + F.col("stot") * (F.col("ctot") - F.col("cov"))
                    ).cast("double")
                    / (
                        F.lit(2.0)
                        * F.col("stot").cast("double")
                        * F.col("ctot").cast("double")
                    )
                ).alias("tv_dist"),
            )
        )
