"""Online image near-duplicate detection over a media stream.

The batch operators (operators/multimodal.py: image_hashes +
phash_near_dup_pairs) answer "which images in this corpus are
near-dups of each other"; a multimodal ingest pipeline needs the
online form: *is this incoming image an exact or near duplicate of
anything already ingested?* — without rescanning the corpus per
micro-batch. Same role for images that streaming/neardup.py's
StreamingNearDupIndex plays for text.

Design (banded Hamming LSH, same construction as the batch join): a
persistent parquet index of [media_id, ahash, band_id, band_val] rows.
Per micro-batch:

1. aHash for the incoming payloads — one narrow Arrow map over the
   batch only, localCheckpoint-ed and reused by every stage;
2. within-batch candidate pairs from a banded self-join of the batch's
   hashes;
3. cross-batch candidates via an equi-join of the batch's bands
   against the persisted index on (band_id, band_val) — probe volume
   is O(batch × bands) against a bucketed key, never a historical
   scan;
4. exact verification is just bit_count(xor) ≤ max_hamming on the
   candidate hash pairs (hamming 0 = exact dup — the online question
   includes re-uploads, unlike the batch pair query which reports
   DISTINCT near hashes);
5. the batch's band rows and matches land in ``epoch_id=<n>``
   partition directories written with mode=overwrite.

Replay safety mirrors StreamingNearDupIndex: every write targets the
replayed epoch's own partition (overwrite), the cross-batch probe
excludes the current epoch's partition, and EpochSink's ``.done``
ledger fast-skips fully completed epochs — a crash between writes cannot
double-ingest, double-report, or self-match a half-persisted batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.multimodal import image_hashes, with_hash_bands

from monolith_spark.barrier import barrier as _lineage_barrier
from monolith_spark.streaming.epoch import EpochSink

_MATCH_SCHEMA = "new_media_id long, old_media_id long, hamming long, epoch_id long"


@dataclass
class StreamingImageDedupIndex(EpochSink):
    """foreachBatch sink maintaining an incremental image-dedup index.

    Matches surface as [new_media_id, old_media_id, hamming, epoch_id]
    where old_media_id was ingested in an earlier batch (or, for
    within-batch pairs, is the lower media_id). hamming == 0 is an
    exact duplicate; 1..max_hamming a near-dup.
    """

    spark: SparkSession
    path: str
    max_hamming: int = 7

    def __post_init__(self) -> None:
        if 64 % (self.max_hamming + 1):
            raise ValueError(f"64 not divisible by {self.max_hamming + 1} bands")
        self.band_path = os.path.join(self.path, "bands")
        self.match_path = os.path.join(self.path, "matches")
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def _old_bands(self, epoch_id: int) -> DataFrame | None:
        if not os.path.exists(self.band_path):
            return None
        return (
            self.spark.read.parquet(self.band_path)
            .filter(F.col("epoch_id") != epoch_id)
            .drop("epoch_id")
        )

    def _hamming_matches(self, cands: DataFrame) -> DataFrame:
        """[new_media_id, new_hash, old_media_id, old_hash] candidates
        → verified matches. Verification is a single JVM expression —
        no second data fetch, unlike the text index's shingle pass."""
        return (
            cands.distinct()
            .withColumn(
                "hamming",
                F.bit_count(F.expr("new_hash ^ old_hash")).cast("long"),
            )
            .filter(F.col("hamming") <= self.max_hamming)
            .select("new_media_id", "old_media_id", "hamming")
        )

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("media_id", "payload")
        if batch.isEmpty():
            return
        hashes = (
            image_hashes(batch)
            .filter(F.col("ahash").isNotNull())
            .select("media_id", "ahash")
            .transform(_lineage_barrier, eager=True)
        )
        bands = with_hash_bands(hashes, "ahash", self.max_hamming)

        # Within-batch pairs (the later id is the "new" image).
        x, y = bands.alias("x"), bands.alias("y")
        within = (
            x.join(
                y,
                (F.col("x.band_id") == F.col("y.band_id"))
                & (F.col("x.band_val") == F.col("y.band_val"))
                & (F.col("x.media_id") < F.col("y.media_id")),
            )
            .select(
                F.col("y.media_id").alias("new_media_id"),
                F.col("y.ahash").alias("new_hash"),
                F.col("x.media_id").alias("old_media_id"),
                F.col("x.ahash").alias("old_hash"),
            )
        )
        matches = self._hamming_matches(within)

        old = self._old_bands(epoch_id)
        if old is not None:
            cross = bands.join(
                old.select(
                    F.col("media_id").alias("old_media_id"),
                    F.col("ahash").alias("old_hash"),
                    "band_id",
                    "band_val",
                ),
                ["band_id", "band_val"],
            ).select(
                F.col("media_id").alias("new_media_id"),
                F.col("ahash").alias("new_hash"),
                "old_media_id",
                "old_hash",
            )
            matches = matches.unionByName(self._hamming_matches(cross))

        matches = matches.transform(_lineage_barrier, eager=True)
        epoch_dir = f"epoch_id={epoch_id}"
        if not matches.isEmpty():
            matches.write.mode("overwrite").parquet(
                os.path.join(self.match_path, epoch_dir)
            )
        bands.write.mode("overwrite").parquet(
            os.path.join(self.band_path, epoch_dir)
        )

    def matches(self) -> DataFrame:
        if not os.path.exists(self.match_path):
            return self.spark.createDataFrame([], _MATCH_SCHEMA)
        return self.spark.read.parquet(self.match_path).select(
            "new_media_id", "old_media_id", "hamming",
            F.col("epoch_id").cast("long"),
        )
