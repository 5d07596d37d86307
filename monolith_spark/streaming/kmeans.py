"""Streaming mini-batch k-means (Sculley, WWW'10 — the web-scale
variant): centroids update once per micro-batch from per-cluster batch
sums, instead of per-point SGD or full Lloyd passes.

Operating model mirrors StreamingIVFIndex: the heavy work (assignment
+ per-cluster sums) is DataFrame ops over the batch; the state that
crosses batches is k centroids + k counts — kilobytes — held by the
driver and persisted per epoch. Update rule per cluster j:

    c_j ← (n_j·c_j + Σ_batch x) / (n_j + m_j),  n_j ← n_j + m_j

which is the exact running mean of all points ever assigned to j (under
the then-current centroids), so a replayed epoch recomputes the same
state: epoch e's output state is a pure function of (state after e−1,
batch e). State files are keyed by epoch (``_state/<epoch>.json``,
overwrite-on-replay) with the previous epoch's file as input — the
same crash-and-replay contract as EpochSink's ``.done`` ledger.

Assignments for each batch are optionally materialized to
``path/epoch_id=<n>/`` parquet (cluster-partitioned), making the
stream's product directly queryable like the IVF index.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.similarity import _dbl, _lit_dbl_array_sql, sqdist_sql
from monolith_spark.streaming.epoch import EpochSink


@dataclass
class StreamingKMeans(EpochSink):
    """foreachBatch mini-batch k-means: driver-held (centroids,
    counts) state, batch assignment + per-cluster sums in DataFrames.
    Takes EpochSink's ``start`` only: its per-epoch state file is its
    ledger, so ``process_batch`` replaces the marker protocol."""

    spark: SparkSession
    path: str
    centroids: list[list[float]]
    id_col: str = "vec_id"
    vec_col: str = "embedding"
    write_assignments: bool = True
    _counts: list[int] = field(init=False, repr=False, default_factory=list)

    def __post_init__(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        self._state_dir = os.path.join(self.path, "_state")
        os.makedirs(self._state_dir, exist_ok=True)
        self._counts = [0] * len(self.centroids)

    # ------------------------------------------------------------ state
    def _state_file(self, epoch_id: int) -> str:
        return os.path.join(self._state_dir, f"{int(epoch_id)}.json")

    def _load_prior_state(self, epoch_id: int) -> None:
        """State after the closest committed epoch < epoch_id (replay
        of epoch e must NOT see e's own half-written state)."""
        prior = [
            int(f[:-5])
            for f in os.listdir(self._state_dir)
            if f.endswith(".json") and int(f[:-5]) < epoch_id
        ]
        if prior:
            with open(self._state_file(max(prior))) as fh:
                st = json.load(fh)
            self.centroids, self._counts = st["centroids"], st["counts"]

    # ------------------------------------------------------------ batch
    def _assign(self, batch_df: DataFrame) -> DataFrame:
        dists = F.expr("array(" + ",".join(
            f"struct({sqdist_sql('`__v`', _lit_dbl_array_sql(c))} AS d2, "
            f"{cid} AS cid)"
            for cid, c in enumerate(self.centroids)
        ) + ")")
        return batch_df.select(
            F.col(self.id_col), _dbl(self.vec_col).alias("__v")
        ).withColumn("__best", F.array_min(dists)).select(
            self.id_col,
            F.col("__v"),
            F.col("__best")["cid"].alias("cluster_id"),
            F.col("__best")["d2"].alias("dist2"),
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.exists(self._state_file(epoch_id)):
            return  # committed epoch — replay skips
        self._load_prior_state(epoch_id)
        assigned = self._assign(batch_df)
        if self.write_assignments:
            (
                assigned.drop("__v")
                .write.partitionBy("cluster_id")
                .mode("overwrite")
                .parquet(os.path.join(self.path, f"epoch_id={int(epoch_id)}"))
            )
        comp = assigned.select("cluster_id", F.posexplode("__v").alias("pos", "x"))
        sums = (
            comp.groupBy("cluster_id", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,18)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()  # k·dim rows — driver state update, bounded
        )
        by_cid: dict[int, dict[int, float]] = {}
        m: dict[int, int] = {}
        for r in sums:
            by_cid.setdefault(r["cluster_id"], {})[r["pos"]] = float(r["s"])
            m[r["cluster_id"]] = r["n"]
        for cid, comps in by_cid.items():
            n_old, m_j = self._counts[cid], m[cid]
            self.centroids[cid] = [
                (n_old * c + comps[i]) / (n_old + m_j)
                for i, c in enumerate(self.centroids[cid])
            ]
            self._counts[cid] = n_old + m_j
        tmp = self._state_file(epoch_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"centroids": self.centroids, "counts": self._counts}, fh)
        os.replace(tmp, self._state_file(epoch_id))


def minibatch_kmeans_batch(
    slices: list[list[tuple[int, list[float]]]], centroids: list[list[float]]
) -> tuple[list[list[float]], list[int]]:
    """Pure-python twin of the streaming update (the prequential-
    anomaly equality-check pattern): apply the mini-batch rule over
    ``slices`` in order, return (centroids, counts)."""
    cents = [list(c) for c in centroids]
    counts = [0] * len(cents)
    for sl in slices:
        by: dict[int, list[list[float]]] = {}
        for _, v in sl:
            best = min(
                range(len(cents)),
                key=lambda j: (sum((a - b) * (a - b) for a, b in zip(v, cents[j])), j),
            )
            by.setdefault(best, []).append(v)
        for j, vs in by.items():
            n_old, m_j = counts[j], len(vs)
            cents[j] = [
                (n_old * c + sum(v[i] for v in vs)) / (n_old + m_j)
                for i, c in enumerate(cents[j])
            ]
            counts[j] = n_old + m_j
    return cents, counts
