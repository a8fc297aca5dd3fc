"""Streaming query serving: a live stream of query points answered against
a (static or snapshot-resolved) document index.

The reference application is strictly request-response over an in-memory
tree (RTreeViewer.cs drives one query per UI action); the engine's stream
twin treats QUERIES as the unbounded side — each micro-batch of query
points runs the SAME batch operators (knn_join / nearest_group with
DataFrame queries, i.e. the distributed mapInPandas planner) via
foreachBatch. The doc side stays a static DataFrame: at scale it is the
cell-partitioned index table, so each micro-batch join is the usual
broadcast-candidate plan, and micro-batch latency is the batch operator's
latency on Q = batch size.

foreachBatch (not a continuous join) is the right shape here: spatial
planning needs the per-batch stats broadcast, and results are final per
query — no watermark or state is involved.

Every sink is a ``SnapshotTable`` at ``out_path``: each micro-batch's
answer is APPENDED as one snapshot through the engine's one exactly-once
commit (``snapshot_stream``): the checkpoint deduplicates triggers, and
the manifest's run → last batch id map makes a retried micro-batch a
no-op instead of a second copy (a plain append sink under foreachBatch
is only at-least-once), while a stream restarted on a fresh checkpoint
appends instead of overwriting the earlier run's batches. A sink keeps
only its current manifest (the answers are a log, not a table to time
travel in), so its metadata grows linearly with the batch count. Read
the answers with ``SnapshotTable(spark, out_path).read()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.plans.snapshots import SnapshotTable
from mbrngq_spark.streaming.snapshot_stream import _append_stream


def _serve(stream: DataFrame, out_path: str, checkpoint: str,
           trigger: dict | None,
           answer: Callable[[DataFrame], DataFrame]) -> StreamingQuery:
    """Append ``answer(batch)`` per micro-batch to the sink at
    ``out_path``, which keeps only its current manifest."""
    return _append_stream(stream, SnapshotTable(stream.sparkSession, out_path),
                          checkpoint, trigger, answer, keep_history=False)


def serve_knn_stream(docs_geo: DataFrame, query_stream: DataFrame,
                     k: int, out_path: str, checkpoint: str,
                     cfg: EngineConfig = DEFAULT,
                     max_dist: float | None = None,
                     trigger: dict | None = None) -> StreamingQuery:
    """Answer a stream of (query_id, qx, qy) with top-k joins per
    micro-batch, appended exactly once to the snapshot table at
    ``out_path``."""
    from mbrngq_spark.operators.knn import knn_join

    return _serve(query_stream, out_path, checkpoint, trigger,
                  lambda b: knn_join(b.sparkSession, docs_geo, b, k,
                                     cfg=cfg, max_dist=max_dist))


def serve_ngq_stream(docs_geo: DataFrame, query_stream: DataFrame,
                     k: int, L: int, out_path: str, checkpoint: str,
                     cfg: EngineConfig = DEFAULT,
                     trigger: dict | None = None) -> StreamingQuery:
    """NGQ per micro-batch of query points (distributed planning +
    escalation inside each batch)."""
    from mbrngq_spark.operators.ngq import nearest_group

    return _serve(query_stream, out_path, checkpoint, trigger,
                  lambda b: nearest_group(b.sparkSession, docs_geo, b,
                                          k=k, L=L, cfg=cfg))


def enrich_asof_stream(left_stream: DataFrame, right_static: DataFrame,
                       on: str, out_path: str, checkpoint: str,
                       left_ts: str = "ts", right_ts: str = "ts",
                       tolerance_us: int | None = None,
                       trigger: dict | None = None) -> StreamingQuery:
    """Point-in-time enrichment of a stream against a STATIC right side
    (e.g. a dimension snapshot resolved from a snapshot table): each
    micro-batch runs the batch as-of join — correct because the right
    side is fixed, so a row's match never depends on which micro-batch
    carried it. (Stream-×-stream as-of would need event-time state and
    watermark reasoning — deliberately not claimed here.) Same
    exactly-once snapshot sink as the kNN/NGQ serving."""
    from mbrngq_spark.operators.asof import asof_join

    return _serve(left_stream, out_path, checkpoint, trigger,
                  lambda b: asof_join(b, right_static, on, left_ts,
                                      right_ts, tolerance_us))
