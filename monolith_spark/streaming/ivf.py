"""Online maintenance of the persisted IVF index.

`operators/similarity.py:write_ivf_index` materializes a static
cell-partitioned ANN index; an ingest pipeline needs the online form:
embeddings arriving on a stream become probe-able without rebuilding
or rescanning the index. Centroids stay FIXED (the FAISS operating
model — retrain offline when drift warrants, then rebuild), so cell
assignment is a narrow map over each micro-batch with no coordination.

Layout: ``path/epoch_id=<n>/cell=<k>/*.parquet`` plus the
``_ivf_centroids.json`` sidecar. Every batch writes ONLY its own
epoch directory with mode=overwrite, so a crash-and-replay of an
epoch clobbers its own half-written output instead of duplicating
rows (same replay contract as StreamingNearDupIndex); EpochSink's
``.done`` epoch ledger is the fast-path skip. Probes via
`similarity.ivf_topk_indexed` work unchanged: ``cell`` is still a
partition column (second level), so the driver-resolved IN-filter
prunes to probed cells across every epoch.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.similarity import _cell_expr, _dbl, _dbl_norm
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class StreamingIVFIndex(EpochSink):
    """foreachBatch sink appending cell-assigned vectors to a
    persisted IVF index under fixed centroids."""

    spark: SparkSession
    path: str
    centroids: list[list[float]] | None = None
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    _meta: str = field(init=False, repr=False, default="")

    def __post_init__(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        self._meta = os.path.join(self.path, "_ivf_centroids.json")
        if self.centroids is None:
            with open(self._meta) as fh:  # pre-trained index required
                self.centroids = json.load(fh)
        elif not os.path.exists(self._meta):
            with open(self._meta, "w") as fh:
                json.dump(self.centroids, fh)
        self._epochs_dir = os.path.join(self.path, "_epochs")

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        assigned = batch_df.select(
            F.col(self.id_col).alias("neighbor_id"),
            _dbl(self.vec_col).alias("c_vec"),
            _dbl_norm(self.vec_col).alias("cn"),
        ).withColumn("cell", _cell_expr("c_vec", self.centroids))
        (
            assigned.write.partitionBy("cell")
            .mode("overwrite")
            .parquet(os.path.join(self.path, f"epoch_id={int(epoch_id)}"))
        )
