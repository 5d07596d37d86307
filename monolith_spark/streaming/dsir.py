"""Continuous DSIR state: live importance weighting of a document
stream against a target domain.

The batch operator (operators/text.py:dsir_scores, Xie et al. NeurIPS
2023) scores each doc's mean token log-likelihood ratio under hashed-
unigram target/raw models. Its model input — the [b, t_b, r_b] bucket
count table — is an ADDITIVE corpus aggregate, so it streams exactly
the way the NB classifier's class counts and the bigram LM's count
tables do (streaming/nbmodel.py, streaming/bigramlm.py): per-epoch
parquet partials whose sums equal the whole-stream table. Scores are
NOT additive (every doc's ratio moves as the models grow), so the
state is the counts, never scores — scoring any corpus against the
streamed model is the batch operator with the merged table injected.

This is how a 100 TB/day ingest keeps its data-selection weights
CURRENT: O(batch) bucket aggregation per micro-batch, state bounded at
n_buckets rows per epoch, and scoring any snapshot against the live
model is exactly the batch computation (streamed ≡ batch asserted in
tests/test_streaming.py). Replays are idempotent by EpochSink's
epoch-dir + marker ledger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.text import dsir_bucket_counts, dsir_scores
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class ContinuousDSIR(EpochSink):
    """foreachBatch sink maintaining additive DSIR bucket-count state
    under ``path``; ``score(docs)`` applies the whole-stream model
    exactly as the batch operator would. ``target_pred`` is a SQL
    boolean expression over the stream's columns naming the target
    slice (e.g. ``"source IN ('src7','src18')"``)."""

    spark: SparkSession
    path: str
    target_pred: str
    n_buckets: int = 512
    text_col: str = "text"

    def __post_init__(self) -> None:
        self.counts_path = os.path.join(self.path, "bucket_counts")
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        (
            dsir_bucket_counts(
                batch_df, F.expr(self.target_pred), self.n_buckets, self.text_col
            )
            .write.mode("overwrite")
            .parquet(os.path.join(self.counts_path, f"epoch={epoch_id}"))
        )

    def bucket_counts(self) -> DataFrame:
        """Merged whole-stream [b, t_b, r_b] — counts add, so this IS
        the batch table over everything streamed so far (empty before
        the first epoch lands → dsir_scores degrades to the smoothed
        all-buckets-unseen model, every score 0)."""
        if not os.path.exists(self.counts_path):
            return self.spark.createDataFrame([], "b long, t_b long, r_b long")
        return (
            self.spark.read.parquet(self.counts_path)
            .groupBy("b")
            .agg(
                F.sum("t_b").cast("long").alias("t_b"),
                F.sum("r_b").cast("long").alias("r_b"),
            )
        )

    def score(self, docs: DataFrame) -> DataFrame:
        """[doc_id, n_tokens, dsir_score] under the streamed model —
        the batch dsir_scores with the merged count table injected."""
        return dsir_scores(
            docs,
            n_buckets=self.n_buckets,
            text_col=self.text_col,
            counts=self.bucket_counts(),
        )
