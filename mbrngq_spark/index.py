"""Index build job — documents → partitioned cell-indexed table + cell stats.

Replaces the reference's tree construction (insert/split/adjust,
mbR-NGQ/Data/RTree.cs:254-350,2156-2662) with one batch pass:

  docs → derive/carry (x, y, category)
       → coarse cell (partition key) + index cell (query prune key)
       → ADAPTIVE SPLIT: cells whose doc count exceeds ``hot_threshold``
         get a finer-resolution cell id (+ a salt column for shuffle
         balance) — the distributed analog of the R-tree node split keeping
         fan-out bounded under dense data (splitNode, RTree.cs:2156-2412),
         and the north_rule's "adaptive cell-level splitting" + salting.
       → write parquet partitioned by coarse cell → scans with a cell
         predicate become partition-pruned file skips.
  cells → per-(cell) aggregates: count, MBR, category bitmask
          (≡ CalculateBitArray, RTree.cs:209-247).

The ``spans`` payload column rides along untouched; ``span_ck`` lets every
later stage assert the sequence survived (input_hint invariant).

At 100 TB: the only shuffle is the partitionBy write (which AQE balances);
stats are a bounded-size aggregate (≤ 4^res rows). Hot-cell detection is a
separate eager counts-only aggregate over the docs (bounded output, small
reduce-partition count), so build_index reads the raw data once more before
the main pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.sources.synth import span_checksum


@dataclass(frozen=True)
class IndexLayout:
    coarse_res: int = 3     # partition key: 64 coarse cells
    index_res: int = 6      # query prune key: 4096 cells
    fine_res: int = 9       # hot cells re-encoded here (adaptive split)
    hot_threshold: int = 50_000   # docs per index cell before splitting
    salt_buckets: int = 16  # shuffle salt for hot cells


def cell_stats(docs: DataFrame) -> DataFrame:
    """Per-cell aggregates of (cell, category, x, y) rows: (cell, n,
    catmask, xmin, ymin, xmax, ymax) — the bottom-up CalculateBitArray
    pass (RTree.cs:209-247) as one groupBy."""
    return (docs
            .groupBy("cell")
            .agg(F.count("*").alias("n"),
                 F.bit_or(F.expr("shiftleft(1, category)")).cast("long")
                 .alias("catmask"),
                 F.min("x").alias("xmin"), F.min("y").alias("ymin"),
                 F.max("x").alias("xmax"), F.max("y").alias("ymax")))


def build_index(docs_geo: DataFrame, layout: IndexLayout = IndexLayout(),
                cfg: EngineConfig = DEFAULT) -> tuple[DataFrame, DataFrame]:
    """→ (indexed docs, cell stats). Pure Column math + one aggregate."""
    x, y = F.col("x"), F.col("y")
    base = (docs_geo
            .withColumn("cell_coarse",
                        grid.cell_encode_named(layout.coarse_res, cfg))
            .withColumn("cell", grid.cell_encode_named(layout.index_res, cfg)))
    # stats derive from the pre-checksum plan: the hot-cell broadcast branch
    # must not re-evaluate the (expensive) span checksum
    indexed = base
    if "spans" in docs_geo.columns:
        indexed = indexed.withColumn("span_ck", span_checksum(F.col("spans")))

    stats = cell_stats(base)

    # adaptive split: hot cells get a finer cell id + a salt bucket.
    # Hot-cell DETECTION runs eagerly as a counts-only bounded aggregate
    # (≤ 4^res rows → small constant reduce-partition count) instead of a
    # full-stats subquery inside the main plan: the subquery re-ran the
    # 6-aggregate stats pass at the cluster-sized partition count on every
    # materialization, and when no cell is hot (any non-degenerate layout)
    # the broadcast join is skipped outright — the common-case index pass
    # is then one map-only projection.
    from mbrngq_spark.config import bounded_shuffle

    hot_counts = base.groupBy("cell").agg(F.count("*").alias("n")) \
        .filter(F.col("n") > layout.hot_threshold).select("cell")
    with bounded_shuffle(docs_geo.sparkSession):
        hot_cells = [r.cell for r in hot_counts.collect()]
    if hot_cells:
        hot = docs_geo.sparkSession.createDataFrame(
            [(c, True) for c in hot_cells], "cell long, is_hot boolean")
        indexed = (indexed
                   .join(F.broadcast(hot), "cell", "left")
                   .withColumn("is_hot",
                               F.coalesce(F.col("is_hot"), F.lit(False)))
                   .withColumn("cell_fine",
                               F.when(F.col("is_hot"),
                                      grid.cell_encode_named(layout.fine_res,
                                                             cfg))
                               .otherwise(F.col("cell")))
                   .withColumn("salt",
                               F.when(F.col("is_hot"),
                                      F.pmod(F.xxhash64(F.col("doc_id")),
                                             F.lit(layout.salt_buckets))
                                      .cast("int"))
                               .otherwise(F.lit(0))))
    else:
        # match the hot branch's column order (join key first) so the
        # output schema is identical whichever branch ran
        rest = [c for c in indexed.columns if c != "cell"]
        indexed = (indexed
                   .select("cell", *rest)
                   .withColumn("is_hot", F.lit(False))
                   .withColumn("cell_fine", F.col("cell"))
                   .withColumn("salt", F.lit(0).cast("int")))
    return indexed, stats


def write_index(indexed: DataFrame, path: str) -> None:
    """Persist partitioned by coarse cell → cell-predicate partition pruning.
    (Iceberg would take this same layout via partition transforms; plain
    parquet keeps the sandbox dependency-free.)"""
    indexed.write.mode("overwrite").partitionBy("cell_coarse").parquet(path)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def verify_span_invariant(docs_with_ck: DataFrame) -> int:
    """Recompute the span checksum and count mismatches (expect 0).
    Run after any pipeline stage that shuffled the table."""
    return (docs_with_ck
            .filter(span_checksum(F.col("spans")) != F.col("span_ck"))
            .count())


def balanced_cell_partitions(docs_geo: DataFrame, res: int, n_parts: int,
                             cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Equi-depth Morton range partitioner — the explicit answer to
    "how do 1000 executors share a skewed planet": assign every cell to
    one of ``n_parts`` so that (a) each partition is a CONTIGUOUS Morton
    range (spatial locality / range-prunable), and (b) partition doc
    counts are balanced up to one cell: the closed form
    part_id = (cum_before · P) div total guarantees every partition
    carries ≤ ceil(total/P) + max_cell docs and ≥ 1 cell.

    All integer arithmetic — bit-exact in every engine. The global
    window runs over the CELL table (≤ 4^res rows regardless of corpus
    size — the corpus collapses map-side first), so the single-task
    ordering stage is bounded, never corpus-scaled; the output is a tiny
    broadcastable plan table (cell → part) that downstream writers use
    as their repartition key.

    Returns (cell, n_docs, cum_before, part_id)."""
    from pyspark.sql import Window

    cells = (docs_geo
             .withColumn("cell", grid.cell_encode(F.col("x"), F.col("y"),
                                                  res, cfg))
             .groupBy("cell")
             .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, -1)
    glob = cells.agg(F.sum("n_docs").cast("long").alias("total"))
    out = (cells
           .withColumn("cum_before",
                       F.coalesce(F.sum("n_docs").over(w),
                                  F.lit(0)).cast("long"))
           .crossJoin(F.broadcast(glob))
           .withColumn("part_id",
                       F.expr(f"(cum_before * {int(n_parts)}) div total")
                       .cast("long")))
    return out.select("cell", "n_docs", "cum_before", "part_id")


def write_balanced(docs_geo: DataFrame, path: str, res: int, n_parts: int,
                   cfg: EngineConfig = DEFAULT) -> DataFrame:
    """End-to-end balanced layout: compute the equi-depth plan, BROADCAST
    it onto the corpus (cell-keyed map-side join — the corpus never
    shuffles for the plan), and write partitioned by part_id — each
    partition a contiguous Morton range with near-equal doc counts, so
    a reader scanning part k gets both locality and balance. Returns the
    plan table (the manifest of the layout)."""
    # the plan is cell-table-sized — checkpoint it so the broadcast
    # join and every downstream action reuse ONE corpus aggregation
    plan = balanced_cell_partitions(docs_geo, res, n_parts, cfg) \
        .localCheckpoint(eager=True)
    keyed = docs_geo.withColumn(
        "cell", grid.cell_encode(F.col("x"), F.col("y"), res, cfg))
    (keyed.join(F.broadcast(plan.select("cell", "part_id")), "cell")
     .repartition(n_parts, "part_id")
     .write.mode("overwrite").partitionBy("part_id").parquet(path))
    return plan
