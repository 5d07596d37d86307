"""Continuous bigram language-model state: streaming CCNet-style
perplexity scoring and bucketing.

The batch pipeline (workload.py:docs_perplexity_buckets_q) scores
fluency under a corpus bigram LM and buckets docs into terciles via
the exact histogram-offset rank device. Its model inputs — the
unigram c(a) and bigram c(ab) count tables — are ADDITIVE corpus
aggregates, so they stream the same way the NB classifier's token
class-counts do (streaming/nbmodel.py): per-epoch parquet partials
that sum to exactly the whole-stream tables. Scores are NOT additive
(every doc's P(b|a) changes as the tables grow), which is why the
state is the counts, never a score histogram — scoring any corpus
against the streamed model is the batch operator with the merged
tables injected (two equi-joins, no retrain pass over history).

This is how a 100 TB/day ingest keeps its CCNet quality model
CURRENT: O(batch) count aggregation per micro-batch, state bounded by
vocabulary size, and scoring/bucketing any snapshot against the live
model is exactly the batch computation (asserted in tests). Replays
are idempotent by EpochSink's epoch-dir + marker ledger.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators import ranking as _ranking
from monolith_spark.operators.text import bigram_lm_score, doc_bigrams, tokens_expr
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class ContinuousBigramLM(EpochSink):
    """foreachBatch sink maintaining additive unigram/bigram count
    state under ``path``; ``score(docs)`` / ``buckets(docs)`` apply
    the whole-stream model exactly as the batch operator would."""

    spark: SparkSession
    path: str
    text_col: str = "text"

    def __post_init__(self) -> None:
        self.uni_path = os.path.join(self.path, "unigrams")
        self.bi_path = os.path.join(self.path, "bigrams")
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", F.col(self.text_col).alias("text"))
        epoch_dir = f"epoch={epoch_id}"
        (
            batch.select(F.explode(tokens_expr("text")).alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("c1"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.uni_path, epoch_dir))
        )
        (
            doc_bigrams(batch)
            .groupBy("bg")
            .agg(F.count("*").alias("c2"))
            .write.mode("overwrite")
            .parquet(os.path.join(self.bi_path, epoch_dir))
        )

    def unigrams(self) -> DataFrame:
        """Merged whole-stream unigram table [tok, c1] — counts add, so
        this IS the batch table over everything streamed so far (empty
        before the first epoch lands)."""
        if not os.path.exists(self.uni_path):
            return self.spark.createDataFrame([], "tok string, c1 long")
        return (
            self.spark.read.parquet(self.uni_path)
            .groupBy("tok")
            .agg(F.sum("c1").alias("c1"))
        )

    def bigrams(self) -> DataFrame:
        """Merged whole-stream bigram table [bg, c2]."""
        if not os.path.exists(self.bi_path):
            return self.spark.createDataFrame([], "bg string, c2 long")
        return (
            self.spark.read.parquet(self.bi_path)
            .groupBy("bg")
            .agg(F.sum("c2").alias("c2"))
        )

    def score(self, docs: DataFrame) -> DataFrame:
        """[doc_id, n_bigrams, avg_bigram_p] under the streamed model —
        the batch bigram_lm_score with the merged tables injected.
        Docs whose bigrams never occurred in the streamed corpus score
        over their observed bigrams only (MLE semantics, same as the
        batch operator on its own corpus)."""
        return bigram_lm_score(
            docs,
            text_col=self.text_col,
            unigrams=self.unigrams(),
            bigrams=self.bigrams(),
        )

    def buckets(self, docs: DataFrame, n: int = 3) -> DataFrame:
        """[doc_id, lm_score, bucket] — the CCNet head/middle/tail split
        against the LIVE model: streamed-model scores ranked by the
        exact histogram-offset device (no single-partition window, same
        plan shape as the batch docs_perplexity_buckets)."""
        scored = self.score(docs).select(
            "doc_id", F.col("avg_bigram_p").alias("lm_score")
        )
        ranked, cnt, _ = _ranking.with_exact_rank(
            scored, "lm_score", ["doc_id"], "__rnk", domain=(0.0, 1.0)
        )
        return ranked.select(
            "doc_id", "lm_score",
            _ranking.ntile_expr("__rnk", cnt, n).alias("bucket"),
        )
