"""Persisted, incrementally-maintained cell-count pyramid — the
"continuous aggregate" of the tile tier.

The reference maintains its per-node counts/bitmasks in-place on every
insert (adjustTree / CalculateBitArray, mbR-NGQ/Data/RTree.cs:209-247);
a 100 TB table cannot re-aggregate the corpus per batch. This store
keeps the pyramid MATERIALIZED and makes append cost proportional to
the DELTA, not the table:

- layout: parquet partitioned by (res, bucket) with bucket =
  pmod(cell, n_buckets) — the unit of rewrite;
- append(new_docs): aggregate ONLY the new rows into per-(res, cell)
  deltas (map-side combinable, delta-sized), read back ONLY the dirty
  (res, bucket) partitions (partition pruning — plan-audited), merge
  by exact associative algebra (count: sum, catmask: bit_or), and
  rewrite ONLY those partitions (dynamic partition overwrite);
- equality contract: append(A then B) == create(A ∪ B), row for row —
  pytest-held, the same merge==direct discipline as the HLL pyramid.

Crash safety: ``append`` is NOT idempotent. Once an append's dynamic
overwrite has committed, a replay of the same rows re-reads the already
merged partitions and sums the delta in again (counts double). A crash
during the overwrite can also lose the partitions being rewritten.
Exactly-once for this store is ROADMAP direction 2's work (one
transactional index store); the streaming pyramid twin
(``streaming/sketch_stream.merge_pyramid_into``) already commits through
the snapshot layer's (run, batch) manifest check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig


def pyramid_agg(docs_geo: DataFrame, levels: tuple[int, ...],
                cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(res, cell, n_docs, catmask) at every pyramid level — the shared
    aggregation of the batch store and the streaming delta twin. Both
    stats are exactly associative (sum / bit_or), so any partition of
    the corpus into deltas folds to the same table."""
    out = None
    for res in sorted(levels):
        lvl = (docs_geo
               .withColumn("cell", grid.cell_encode(
                   F.col("x"), F.col("y"), res, cfg))
               .groupBy("cell")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.bit_or(F.expr("shiftleft(1, category)"))
                    .cast("long").alias("catmask"))
               .withColumn("res", F.lit(res).cast("int")))
        out = lvl if out is None else out.unionByName(lvl)
    return out


class RollupStore:
    def __init__(self, spark: SparkSession, path: str,
                 levels: tuple[int, ...] = (2, 4, 6),
                 n_buckets: int = 16, cfg: EngineConfig = DEFAULT):
        self.spark = spark
        self.path = path
        self.levels = tuple(sorted(levels))
        self.n_buckets = int(n_buckets)
        self.cfg = cfg

    # --- aggregation -------------------------------------------------------

    def _pyramid(self, docs_geo: DataFrame) -> DataFrame:
        return pyramid_agg(docs_geo, self.levels, self.cfg).withColumn(
            "bucket", F.pmod(F.col("cell"),
                             F.lit(self.n_buckets)).cast("int"))

    def _write(self, df: DataFrame, partitions: str) -> None:
        """Overwrite the whole table (``partitions="static"``) or only
        the partitions present in ``df`` ("dynamic") — a per-write
        option, so no session-wide conf changes under concurrent
        callers."""
        (df.repartition("res", "bucket")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", partitions)
         .partitionBy("res", "bucket")
         .parquet(self.path))

    # --- API -----------------------------------------------------------------

    def create(self, docs_geo: DataFrame) -> None:
        self._write(self._pyramid(docs_geo), "static")

    def dirty_merge(self, new_docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(delta pyramid of the new rows, merged rows for the dirty
        partitions only) — exposed separately so the plan audit can
        assert the pruned read."""
        # checkpoint the delta pyramid: it is consumed twice (the dirty-
        # partition collect below and the merged write) and would
        # otherwise recompute the full rollup per consumer
        delta = self._pyramid(new_docs).localCheckpoint(eager=True)
        dirty = [(int(r.res), int(r.bucket))
                 for r in delta.select("res", "bucket").distinct().collect()]
        if not dirty:
            # empty delta: nothing to merge, nothing to rewrite
            return delta, delta.limit(0).select(
                "cell", "n_docs", "catmask", "res", "bucket")
        pred = None
        for res, b in dirty:
            c = (F.col("res") == res) & (F.col("bucket") == b)
            pred = c if pred is None else (pred | c)
        old = self.spark.read.parquet(self.path).filter(pred)
        merged = (old.unionByName(delta)
                  .groupBy("res", "bucket", "cell")
                  .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                       F.bit_or(F.col("catmask")).cast("long")
                       .alias("catmask"))
                  .select("cell", "n_docs", "catmask", "res", "bucket"))
        return delta, merged

    def append(self, new_docs: DataFrame) -> None:
        """Delta-cost maintenance: only the dirty (res, bucket)
        partitions are read, merged, and rewritten."""
        _, merged = self.dirty_merge(new_docs)
        if merged.isEmpty():
            return
        self._write(merged, "dynamic")

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path) \
            .select("res", "cell", "n_docs", "catmask")
