"""Continuous NB quality-classifier model: streaming token class
counts.

The classifier's model state (operators/text.py:nb_token_counts) is a
pair of additive counters per token — counts from disjoint corpus
slices sum to the whole-corpus model. That makes it a perfect
continuous aggregate in the ContinuousCMS mold: each micro-batch
appends its own (tok, c_pos, c_neg) partial — O(batch) work,
vocab-of-batch output — and reads re-merge by summing. EpochSink's
epoch-dir + marker ledger makes it idempotent: a replayed epoch
overwrites its own partition instead of double-counting.

This is how the quality model stays fresh at 100 TB/day ingest: the
gate labels and token counts ride the ingest stream, and scoring any
corpus against the up-to-the-minute model is one join — no retrain
pass over history. A streaming groupBy(token) would pin the whole
vocabulary in the state store; epoch partials keep state on cheap
storage and mergeable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.text import nb_score, nb_token_counts
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class ContinuousNBModel(EpochSink):
    """foreachBatch sink maintaining NB token class-counts under
    ``path`` (epoch-partitioned parquet of count partials)."""

    spark: SparkSession
    path: str
    id_col: str = "doc_id"
    text_col: str = "text"
    min_tokens: int = 25
    max_tokens: int = 90
    min_stopword_ratio: float = 0.04

    def __post_init__(self) -> None:
        self._epochs_dir = self.path + "_epochs"

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        nb_token_counts(
            batch_df,
            self.id_col,
            self.text_col,
            self.min_tokens,
            self.max_tokens,
            self.min_stopword_ratio,
        ).write.mode("overwrite").parquet(os.path.join(self.path, f"epoch={epoch_id}"))

    def counts(self) -> DataFrame:
        """The merged whole-stream model [tok, c_pos, c_neg]."""
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], "tok string, c_pos long, c_neg long")
        return (
            self.spark.read.parquet(self.path)
            .groupBy("tok")
            .agg(F.sum("c_pos").alias("c_pos"), F.sum("c_neg").alias("c_neg"))
        )

    def score(self, docs: DataFrame) -> DataFrame:
        """Score ``docs`` against everything streamed so far — equal to
        the batch classifier when ``docs`` is the streamed corpus."""
        return nb_score(
            docs,
            self.counts(),
            self.id_col,
            self.text_col,
            self.min_tokens,
            self.max_tokens,
            self.min_stopword_ratio,
        )
