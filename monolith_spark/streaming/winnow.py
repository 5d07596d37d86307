"""Online copy detection over a document stream via winnowing
fingerprints.

The batch operator (operators/text.py:winnow_stats /
winnow_fingerprints_expr — the MOSS scheme) sketches each doc as a
small set of window-min k-gram hashes; the online form a curation
ingest needs is *does this incoming document share copied content with
anything already ingested?* — answered per micro-batch against a
persisted fingerprint index, never by rescanning the corpus.

Design mirrors StreamingNearDupIndex (streaming/neardup.py), with a
lighter index: winnowing needs ONE parquet table of exploded
fingerprints [doc_id, fp], because the fingerprint IS both the
blocking key and the evidence — there is no separate verify corpus to
fetch. Per micro-batch:

1. fingerprint sets for the incoming docs (pure projection — the
   batch's only narrow map);
2. within-batch matches from a self-join on fp (later id = "new");
3. cross-batch matches via an equi-join of the batch's fingerprints
   against the persisted index on fp — probe volume is
   O(batch fingerprints) against a bucketed key;
4. score = number of shared fingerprints, plus containment =
   shared / |new doc's fingerprints| (Schleimer et al.: any shared
   run of >= w+k-1 tokens contributes a shared fingerprint, so
   ``shared`` lower-bounds the number of copied regions);
5. fingerprints and matches land in ``epoch_id=<n>`` partition
   directories written with mode=overwrite.

Replay safety is the neardup idiom verbatim: every write targets the
replayed epoch's own partition (overwrite), the cross-batch probe
excludes the current epoch's partition, and EpochSink's ``.done``
ledger fast-paths completed epochs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.text import winnow_fingerprints_expr

from monolith_spark.barrier import barrier as _lineage_barrier
from monolith_spark.streaming.epoch import EpochSink

_MATCH_SCHEMA = (
    "new_doc_id long, old_doc_id long, shared long, containment double, epoch_id long"
)


@dataclass
class StreamingWinnowIndex(EpochSink):
    """foreachBatch sink maintaining an incremental winnowing
    copy-detection index.

    Matches surface as [new_doc_id, old_doc_id, shared, containment,
    epoch_id] where old_doc_id was ingested in an earlier batch (or,
    for within-batch pairs, is the lower doc_id), and
    shared >= min_shared.
    """

    spark: SparkSession
    path: str
    k: int = 3
    w: int = 4
    min_shared: int = 1

    def __post_init__(self) -> None:
        self.fp_path = os.path.join(self.path, "fingerprints")
        self.match_path = os.path.join(self.path, "matches")
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def _prior_fps(self, epoch_id: int) -> DataFrame | None:
        if not os.path.exists(self.fp_path):
            return None
        return (
            self.spark.read.parquet(self.fp_path)
            .filter(F.col("epoch_id") != epoch_id)
            .drop("epoch_id")
        )

    def _score(self, cands: DataFrame, n_new: DataFrame) -> DataFrame:
        """[new_doc_id, old_doc_id, fp] candidate hits → scored
        matches. ``n_new`` ([doc_id, n_fp]) is batch-bounded, so the
        hint is safe (contrast the corpus-sized relations dedup.py
        leaves unhinted for AQE)."""
        return (
            cands.groupBy("new_doc_id", "old_doc_id")
            .agg(F.count("*").alias("shared"))
            .filter(F.col("shared") >= self.min_shared)
            .join(
                F.broadcast(n_new.withColumnRenamed("doc_id", "new_doc_id")),
                "new_doc_id",
            )
            .withColumn(
                "containment", F.col("shared").cast("double") / F.col("n_fp")
            )
            .select("new_doc_id", "old_doc_id", "shared", "containment")
        )

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        if batch.isEmpty():
            return
        fps = (
            batch.select(
                "doc_id",
                F.explode(winnow_fingerprints_expr(F.col("text"), self.k, self.w)).alias(
                    "fp"
                ),
            )
            .transform(_lineage_barrier, eager=True)
        )
        n_new = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))

        x, y = fps.alias("x"), fps.alias("y")
        within = x.join(
            y, (F.col("x.fp") == F.col("y.fp")) & (F.col("x.doc_id") < F.col("y.doc_id"))
        ).select(
            F.col("y.doc_id").alias("new_doc_id"),
            F.col("x.doc_id").alias("old_doc_id"),
            F.col("x.fp").alias("fp"),
        )
        matches = self._score(within, n_new)

        old = self._prior_fps(epoch_id)
        if old is not None:
            cross = fps.join(
                old.select(F.col("doc_id").alias("old_doc_id"), "fp"), "fp"
            ).select(F.col("doc_id").alias("new_doc_id"), "old_doc_id", "fp")
            matches = matches.unionByName(self._score(cross, n_new))

        matches = matches.transform(_lineage_barrier, eager=True)
        epoch_dir = f"epoch_id={epoch_id}"
        if not matches.isEmpty():
            matches.write.mode("overwrite").parquet(
                os.path.join(self.match_path, epoch_dir)
            )
        fps.write.mode("overwrite").parquet(os.path.join(self.fp_path, epoch_dir))

    def matches(self) -> DataFrame:
        if not os.path.exists(self.match_path):
            return self.spark.createDataFrame([], _MATCH_SCHEMA)
        return self.spark.read.parquet(self.match_path)
