"""One exactly-once protocol for every ``foreachBatch`` sink.

Structured Streaming (Armbrust et al., SIGMOD 2018) delivers a
micro-batch at least once: after a crash, the epoch that was running is
replayed from the checkpoint with the same ``epoch_id``. A sink turns
that into exactly-once by keeping an epoch ledger beside its output:

1. skip an epoch whose ``<epochs_dir>/<epoch_id>.done`` marker exists;
2. write the epoch's output (``write_epoch``);
3. write the marker.

A crash between 2 and 3 replays the epoch. Sinks whose output lands in
the epoch's own ``epoch=<n>`` / ``epoch_id=<n>`` partition, written
with mode=overwrite, stay idempotent across that window too: the replay
rewrites the same directory. The marker is then only the fast-path
skip. StreamingIngest appends to a MonolithDB instead, so a replay in
that window appends the epoch twice.

Each sink names its ledger directory (``_epochs_dir``) in its
``__post_init__``. The directory is made when the first marker is
written.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


class EpochSink:
    """Base of the foreachBatch sinks: the epoch ledger, the marker and
    ``start``. Subclasses set ``_epochs_dir`` and implement
    ``write_epoch``."""

    _epochs_dir: str

    def write_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Write one epoch's output. Called for every epoch without a
        marker: once, unless a crash came before the marker."""
        raise NotImplementedError

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(self._epochs_dir, f"{epoch_id}.done")
        if os.path.exists(marker):
            return
        self.write_epoch(batch_df, epoch_id)
        os.makedirs(self._epochs_dir, exist_ok=True)
        with open(marker, "w"):
            pass

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: float | None = None,
    ) -> StreamingQuery:
        """Attach the sink to ``stream_df``. ``trigger_seconds`` ≈ the
        reference's chunk-swap timer cadence (PARITY.md ST1); None →
        process available data immediately. No sink's input holds a
        streaming aggregation, so append and update output modes hand
        foreachBatch the same rows; append is the one used."""
        writer = (
            stream_df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.process_batch)
        )
        if trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
