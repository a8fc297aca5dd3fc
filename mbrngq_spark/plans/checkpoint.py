"""Batch-incremental checkpointing: per-partition lineage + metrics + resume.

North_rule: "every partition emits lineage + metrics rows to a checkpoint
table so interrupted runs resume from the last committed snapshot." The
reference is fully ephemeral (data regenerated per run, RTreeViewer.cs:31-92)
so this is engine-new, designed Iceberg-style but parquet-backed in the
sandbox:

- work is split into UNITS (normally coarse-cell partitions — the same key
  the index table is partitioned by, so a unit's input is one partition
  prune);
- each unit's output lands in its own ``unit=<id>`` directory
  (write-ahead), then a commit row is appended to the checkpoint table:
  (run_id, unit_id, status, n_rows, lineage_ck, wall_ms, finished_at,
  attempt);
- resume = skip units with a committed row; a crash between data write and
  commit just rewrites that unit directory (overwrite → idempotent);
- ``lineage_ck`` is an order-insensitive XOR of row hashes, letting a later
  audit confirm the committed unit's bytes are the bytes the metrics row
  described (span-invariant hook).

On Iceberg the same protocol keys on snapshot ids; the commit row would
carry ``snapshot_id`` and resume would read the last committed snapshot.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CKPT_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("unit_id", T.LongType()),
    T.StructField("status", T.StringType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("lineage_ck", T.LongType()),
    T.StructField("wall_ms", T.LongType()),
    T.StructField("finished_at", T.DoubleType()),
    T.StructField("attempt", T.IntegerType()),
])


def lineage_checksum(df: DataFrame) -> int:
    """Order-insensitive 64-bit checksum of all rows (XOR of row hashes)."""
    ck = (df.select(F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
                    .alias("h"))
            .agg(F.expr("bit_xor(h)").alias("ck"))
            .collect()[0].ck)
    return int(ck) if ck is not None else 0


def committed_units(spark: SparkSession, ckpt_path: str, run_id: str) -> set[int]:
    """Units of ``run_id`` with a commit row. Only a missing checkpoint
    table means "nothing committed"; an unreadable one raises, since
    reading it as empty would silently re-run every unit."""
    try:
        ck = spark.read.schema(CKPT_SCHEMA).parquet(ckpt_path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    rows = (ck.filter((F.col("run_id") == run_id)
                      & (F.col("status") == "committed"))
            .select("unit_id").distinct().collect())
    return {r.unit_id for r in rows}


def run_checkpointed(spark: SparkSession, run_id: str, units: list[int],
                     process: Callable[[int], DataFrame],
                     out_path: str, ckpt_path: str,
                     fail_on: Callable[[int], bool] | None = None,
                     sketch_item: str | None = None) -> dict:
    """Process every unit not yet committed; returns summary stats.

    ``process(unit_id) -> DataFrame`` is the per-partition job body.
    ``fail_on`` is a test hook simulating a crash before commit.
    ``sketch_item``: optionally name a column of the unit output — each
    committed unit then also persists an HLL register sketch of that
    column (north_star metrics rows: 256 longs per unit), and
    ``rollup_unit_sketches`` later estimates run-wide distinct items by
    register-wise max WITHOUT re-reading any unit data. The sketch is
    written before the commit row (write-ahead, same as the data), so a
    crash-resumed unit rewrites both idempotently."""
    done = committed_units(spark, ckpt_path, run_id)
    attempted = skipped = 0
    for u in units:
        if u in done:
            skipped += 1
            continue
        t0 = time.time()
        df = process(u)
        df.write.mode("overwrite").parquet(f"{out_path}/unit={u}")
        if sketch_item is not None:
            from mbrngq_spark.operators.sketch import hll_sketch
            written0 = spark.read.parquet(f"{out_path}/unit={u}")
            (hll_sketch(written0.withColumn("__k", F.lit("all")),
                        ["__k"], sketch_item)
             .drop("__k")
             .write.mode("overwrite")
             .parquet(f"{out_path}/__sketch/unit={u}"))
        if fail_on is not None and fail_on(u):
            raise RuntimeError(f"simulated crash after writing unit {u}")
        written = spark.read.parquet(f"{out_path}/unit={u}")
        rec = Row(run_id=run_id, unit_id=u, status="committed",
                  n_rows=written.count(),
                  lineage_ck=lineage_checksum(written),
                  wall_ms=int((time.time() - t0) * 1000),
                  finished_at=time.time(), attempt=1)
        spark.createDataFrame([rec], CKPT_SCHEMA).write.mode("append") \
            .parquet(ckpt_path)
        attempted += 1
    return {"attempted": attempted, "skipped": skipped,
            "total": len(units)}


def rollup_unit_sketches(spark: SparkSession, out_path: str,
                         ckpt_path: str, run_id: str) -> DataFrame:
    """Run-wide distinct-item estimate from the per-unit register
    sketches alone — register-wise max over committed units, then the
    standard estimator. Never touches unit data; merging N units reads
    N × ≤256 rows. Returns (key='all', n_registers, estimate)."""
    from mbrngq_spark.operators.sketch import hll_estimate

    done = sorted(committed_units(spark, ckpt_path, run_id))
    paths = [f"{out_path}/__sketch/unit={u}" for u in done]
    merged = (spark.read.parquet(*paths)
              .groupBy("register").agg(F.max("rho").alias("rho"))
              .withColumn("key", F.lit("all")))
    return hll_estimate(merged, ["key"])


def audit_lineage(spark: SparkSession, out_path: str, ckpt_path: str,
                  run_id: str) -> DataFrame:
    """Re-hash every committed unit and flag checksum drift (expect none)."""
    ck = (spark.read.schema(CKPT_SCHEMA).parquet(ckpt_path)
          .filter((F.col("run_id") == run_id) & (F.col("status") == "committed")))
    rows = []
    for r in ck.collect():
        actual = spark.read.parquet(f"{out_path}/unit={r.unit_id}")
        rows.append(Row(unit_id=r.unit_id,
                        recorded=r.lineage_ck,
                        actual=lineage_checksum(actual),
                        n_recorded=r.n_rows,
                        n_actual=actual.count()))
    return spark.createDataFrame(rows)
