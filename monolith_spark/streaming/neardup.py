"""Online near-duplicate detection over a document stream.

The batch dedup operators (operators/dedup.py) answer "which docs in
this corpus are near-dups of each other"; a training-data ingest
pipeline needs the online form: *is this incoming document a near-dup
of anything already ingested?* — without rescanning the corpus per
batch.

Design (MinHash-LSH, same construction as dedup.minhash_lsh_pairs):
a persistent parquet index of band signatures [doc_id, band, band_sig]
plus the shingle sets needed for exact verification. Per micro-batch:

1. signatures + shingles for the incoming docs — narrow maps over the
   batch only, localCheckpoint-ed once and reused by every stage;
2. within-batch candidate pairs from a self-join of those signatures;
3. cross-batch candidates via an equi-join of the batch's signatures
   against the persisted index on (band, band_sig) — shuffle volume is
   O(batch × bands) probes against a bucketed key, never a scan of the
   historical corpus;
4. exact shingle-Jaccard verification of candidates only (old-side
   shingles are fetched by candidate id, a keyed semi-join);
5. the batch's signatures, shingles, and matches land in
   ``epoch_id=<n>`` partition directories written with mode=overwrite.

Replay safety: every write targets the replayed epoch's own partition
directory (overwrite, not append), and the cross-batch probe excludes
the current epoch's partition — so a crash between writes cannot
double-ingest a batch, double-report matches, or self-match a batch
against its own half-persisted signatures. EpochSink's epoch ledger
remains as a fast-path skip for fully-completed epochs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.barrier import barrier as _lineage_barrier
from monolith_spark.operators.dedup import (
    doc_shingles,
    minhash_band_signatures,
    minhash_signatures,
)
from monolith_spark.streaming.epoch import EpochSink

_MATCH_SCHEMA = "new_doc_id long, old_doc_id long, jaccard double, epoch_id long"


@dataclass
class StreamingNearDupIndex(EpochSink):
    """foreachBatch sink maintaining an incremental near-dup index.

    Matches surface as [new_doc_id, old_doc_id, jaccard, epoch_id]
    where old_doc_id was ingested in an earlier batch (or, for
    within-batch pairs, is the lower doc_id).
    """

    spark: SparkSession
    path: str
    n: int = 3
    num_hashes: int = 16
    bands: int = 4
    threshold: float = 0.5

    def __post_init__(self) -> None:
        self.sig_path = os.path.join(self.path, "band_sigs")
        self.shingle_path = os.path.join(self.path, "shingles")
        self.match_path = os.path.join(self.path, "matches")
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def _read_index(self, base: str, epoch_id: int) -> DataFrame | None:
        """Prior epochs of a partitioned index table (None before the
        first write). Excluding the current epoch makes replays after a
        partial write safe: the batch never probes its own half-
        persisted signatures."""
        if not os.path.exists(base):
            return None
        return (
            self.spark.read.parquet(base)
            .filter(F.col("epoch_id") != epoch_id)
            .drop("epoch_id")
        )

    def _verify(self, cands: DataFrame, sh_new: DataFrame, sh_old: DataFrame) -> DataFrame:
        """Exact shingle-Jaccard over candidate pairs only.

        ``cands``: [new_doc_id, old_doc_id]; ``sh_old`` is keyed by
        plain doc_id and restricted to candidate old ids by semi-join
        before the shingle equi-join.
        """
        old = (
            sh_old.withColumnRenamed("doc_id", "old_doc_id")
            .join(cands.select("old_doc_id").distinct(), "old_doc_id", "semi")
        )
        inter = (
            cands.join(sh_new.withColumnRenamed("doc_id", "new_doc_id"), "new_doc_id")
            .join(old, ["old_doc_id", "shingle"])
            .groupBy("new_doc_id", "old_doc_id")
            .agg(F.count("*").alias("n_inter"))
        )
        n_new = sh_new.groupBy("doc_id").agg(F.count("*").alias("n_new"))
        n_old = old.groupBy("old_doc_id").agg(F.count("*").alias("n_old"))
        return (
            inter.join(F.broadcast(n_new), inter.new_doc_id == n_new.doc_id)
            .join(F.broadcast(n_old), "old_doc_id")
            .withColumn(
                "jaccard",
                F.col("n_inter").cast("double")
                / (F.col("n_new") + F.col("n_old") - F.col("n_inter")),
            )
            .filter(
                (F.col("jaccard") >= self.threshold)
                & (F.col("new_doc_id") != F.col("old_doc_id"))
            )
            .select("new_doc_id", "old_doc_id", "jaccard")
        )

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("doc_id", "text")
        if batch.isEmpty():
            return
        batch = batch.transform(_lineage_barrier, eager=True)
        sigs = minhash_band_signatures(
            minhash_signatures(batch, n=self.n, num_hashes=self.num_hashes),
            self.num_hashes,
            self.bands,
        ).transform(_lineage_barrier, eager=True)
        sh_new = doc_shingles(batch, n=self.n).transform(_lineage_barrier, eager=True)

        # Within-batch candidates from the already-computed signatures
        # (the later id is the "new" doc).
        x, y = sigs.alias("x"), sigs.alias("y")
        within = (
            x.join(
                y,
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.band_sig") == F.col("y.band_sig"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("y.doc_id").alias("new_doc_id"),
                F.col("x.doc_id").alias("old_doc_id"),
            )
            .distinct()
        )
        matches = self._verify(within, sh_new, sh_new)

        old_sigs = self._read_index(self.sig_path, epoch_id)
        if old_sigs is not None:
            cross = (
                sigs.join(
                    old_sigs.select(
                        F.col("doc_id").alias("old_doc_id"), "band", "band_sig"
                    ),
                    ["band", "band_sig"],
                )
                .select(F.col("doc_id").alias("new_doc_id"), "old_doc_id")
                .distinct()
            )
            old_sh = self._read_index(self.shingle_path, epoch_id)
            matches = matches.unionByName(self._verify(cross, sh_new, old_sh))

        # Materialize once; all writes below overwrite THIS epoch's
        # partition directory, so replays are idempotent.
        matches = matches.transform(_lineage_barrier, eager=True)
        epoch_dir = f"epoch_id={epoch_id}"
        if not matches.isEmpty():
            matches.write.mode("overwrite").parquet(
                os.path.join(self.match_path, epoch_dir)
            )
        sigs.write.mode("overwrite").parquet(os.path.join(self.sig_path, epoch_dir))
        sh_new.write.mode("overwrite").parquet(
            os.path.join(self.shingle_path, epoch_dir)
        )

    def matches(self) -> DataFrame:
        if not os.path.exists(self.match_path):
            return self.spark.createDataFrame([], _MATCH_SCHEMA)
        return self.spark.read.parquet(self.match_path).select(
            "new_doc_id", "old_doc_id", "jaccard", F.col("epoch_id").cast("long")
        )