"""Streaming writes into snapshot tables — the engine's one exactly-once
commit for every ``foreachBatch`` sink.

Each micro-batch commits one snapshot through ``SnapshotTable``'s
replay check: every manifest carries a map from run to its last
committed batch id, where the run is the streaming query id (stable
across restarts on one checkpoint, new on a fresh one). A batch replayed
after a crash (foreachBatch is at-least-once on retry) finds its id
already committed for its run and no-ops; a fresh checkpoint, whose
batch ids restart at 0, commits normally; a reader always sees whole
committed batches, never a torn write. Restarting the stream against
the same checkpoint resumes from the first unprocessed source file, and
the table resumes from its last committed snapshot — the two cursors
never disagree because the manifest carries the batch id.

Two commit kinds share that check: outputs APPEND
(``ingest_snapshot_stream`` here, the kNN / NGQ / as-of sinks of
``query_stream``) and sketch states FOLD (``sketch_stream``). This
mirrors Iceberg's Structured Streaming sink semantics
(write.format("iceberg") commit-per-epoch) on the offline snapshot layer.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from mbrngq_spark.plans.snapshots import SnapshotTable


def ingest_snapshot_stream(stream_df: DataFrame, table: SnapshotTable,
                           checkpoint: str,
                           trigger: dict | None = None) -> StreamingQuery:
    """Commit each micro-batch of ``stream_df`` as one table snapshot.
    The table keeps its history for time travel; a long-lived ingest
    bounds it with a periodic ``table.expire_snapshots``."""
    return _append_stream(stream_df, table, checkpoint, trigger)


def _append_stream(stream: DataFrame, table: SnapshotTable,
                   checkpoint: str, trigger: dict | None,
                   answer: Callable[[DataFrame], DataFrame] = lambda b: b,
                   keep_history: bool = True) -> StreamingQuery:
    """Start ``stream`` with a foreachBatch sink that appends
    ``answer(batch)`` to ``table`` exactly once per (run, batch).

    Every manifest lists every file so far, so a table that keeps its
    history grows its manifests quadratically with the batch count.
    ``keep_history=False`` expires the superseded manifest after each
    commit: an append leaves every committed file live in the current
    snapshot, so this drops only time travel, never rows a reader
    resolved."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.head(1):
            table.append_batch(answer(batch_df), batch_id)
            if not keep_history:
                table.expire_snapshots(keep_last=1)

    writer = (stream.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation", checkpoint))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
