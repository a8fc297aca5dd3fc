"""Streaming sketch states (the batch≡stream twins of
``operators/sketch.py``, ``tiles.tile_heatmap`` and the rollup pyramid).

Two shapes, both with BOUNDED state — the whole point of a sketch on a
stream:

* ``hll_sketch_stream`` / ``cm_sketch_stream`` — streaming aggregations
  with the batch sketch's own expression tree. State is ≤ keys ×
  registers (or counters) rows FOREVER (no watermark needed: the sketch
  never grows with item count), so ``complete``-mode output is cheap and
  the final table equals the batch sketch row-for-row.

* ``merge_*_into`` — foreachBatch handler factories that FOLD each
  micro-batch's sketch into a persisted state, a ``SnapshotTable`` at
  ``state_path``: the new state is merge(current ∪ batch sketch) —
  ``hll_merge``, ``kmv_merge``, ``cm_merge``, or a sum / ``bit_or`` for
  the heatmap and pyramid — committed as one atomic snapshot by
  ``SnapshotTable.fold_batch``. Exactly-once comes from the engine's one
  streaming commit (``snapshot_stream``): the manifest's run → last
  batch id map turns a crash-replayed batch into a no-op, so SUM states
  (count-min, heatmap, pyramid) are as replay-safe as the idempotent
  max / bottom-k merges, and a stream restarted on a fresh checkpoint
  folds in instead of overwriting. A failed write never touches the
  committed state; each commit expires all but the two newest snapshots,
  so the state stays bounded while a reader of the previous snapshot
  can still finish its scan. Read a state with
  ``SnapshotTable(spark, state_path).read()``.

At 10^12 docs this is the live-metrics path: the stream never stores
items, only bounded per-key states, and a persisted state is mergeable
with batch/backfill sketches from ``operators.sketch``.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark.operators import sketch as S
from mbrngq_spark.plans.snapshots import SnapshotTable


def hll_sketch_stream(stream: DataFrame, key_cols: list[str],
                      item_col: str) -> DataFrame:
    """(key..., register, rho) as a streaming aggregation — the batch
    ``hll_sketch`` itself, so batch≡stream equality is structural."""
    return S.hll_sketch(stream, key_cols, item_col)


def cm_sketch_stream(stream: DataFrame, key_cols: list[str],
                     item_col: str) -> DataFrame:
    """(key..., row, col, cnt) as a streaming aggregation — the batch
    ``cm_sketch`` itself, state bounded at keys × D × W rows forever, so
    complete-mode output equals the batch counters row-for-row."""
    return S.cm_sketch(stream, key_cols, item_col)


def _fold_into(spark: SparkSession, state_path: str,
               sketch: Callable[[DataFrame], DataFrame],
               merge: Callable[[list[DataFrame]], DataFrame]):
    """foreachBatch handler: fold ``sketch(batch)`` into the state table
    at ``state_path`` with ``merge``, exactly once per (run, batch)."""
    table = SnapshotTable(spark, state_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        table.fold_batch(sketch(batch_df), batch_id, merge)

    return handle


def merge_sketch_into(spark: SparkSession, state_path: str,
                      key_cols: list[str], item_col: str):
    """HLL register state (key..., register, rho); merge = register-wise
    max."""
    return _fold_into(spark, state_path,
                      lambda df: S.hll_sketch(df, key_cols, item_col),
                      lambda parts: S.hll_merge(parts, key_cols))


def merge_cm_sketch_into(spark: SparkSession, state_path: str,
                         key_cols: list[str], item_col: str):
    """Count-min counter state (key..., row, col, cnt); merge =
    counter-wise sum."""
    return _fold_into(spark, state_path,
                      lambda df: S.cm_sketch(df, key_cols, item_col),
                      lambda parts: S.cm_merge(parts, key_cols))


def merge_kmv_sketch_into(spark: SparkSession, state_path: str,
                          key_cols: list[str], item_col: str,
                          k: int | None = None):
    """KMV bottom-k state (key..., h, rk), bounded at keys × k rows
    forever — the stream keeps set-intersection capability without ever
    storing items; merge = distinct → re-rank → keep ≤ k."""
    kk = k or S.KMV_K
    return _fold_into(spark, state_path,
                      lambda df: S.kmv_sketch(df, key_cols, item_col, kk),
                      lambda parts: S.kmv_merge(parts, key_cols, kk))


def merge_heatmap_into(spark: SparkSession, state_path: str,
                       h: float, res: int):
    """Biweight-KDE heatmap state (``tiles.tile_heatmap`` rows); merge =
    cell-wise int64 sums with density re-derived from the exact sum.
    Quantize-before-sum makes the fold exactly associative — the streamed
    state equals the batch heatmap row-for-row regardless of batch
    boundaries."""
    from mbrngq_spark.operators.tiles import HEAT_QUANT, tile_heatmap

    return _fold_into(
        spark, state_path, lambda df: tile_heatmap(df, h, res),
        lambda parts: (reduce(DataFrame.unionByName, parts)
                       .groupBy("cell", "ix", "iy")
                       .agg(F.sum("n_docs").alias("n_docs"),
                            F.sum("wq").alias("wq"))
                       .withColumn("density",
                                   F.col("wq") / F.lit(HEAT_QUANT))))


def merge_pyramid_into(spark: SparkSession, state_path: str,
                       levels: tuple[int, ...] = (2, 4, 6), cfg=None):
    """Streaming cell-pyramid twin of plans/rollup_store.py, state
    (res, cell, n_docs, catmask); merge = sum + bit_or, the same exactly
    associative algebra the batch store uses."""
    from mbrngq_spark.config import DEFAULT
    from mbrngq_spark.plans.rollup_store import pyramid_agg

    return _fold_into(
        spark, state_path,
        lambda df: pyramid_agg(df, levels, cfg or DEFAULT),
        lambda parts: (reduce(DataFrame.unionByName, parts)
                       .groupBy("res", "cell")
                       .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                            F.bit_or("catmask").cast("long")
                            .alias("catmask"))))
