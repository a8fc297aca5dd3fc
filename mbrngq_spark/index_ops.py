"""Incremental index maintenance — the Insert / Delete operators.

Reference semantics (SURVEY.md §2.1): ``RTree.Add`` (Guttman insert,
mbR-NGQ/Data/RTree.cs:254-350) and ``RTree.Delete`` (find-leaf + condense +
reinsert, RTree.cs:358-446,2499-2555). In a distributed cell-grid index
there is no tree surgery: cell ids are values, so

- INSERT  = encode new docs → append rows to their coarse-cell partitions;
- DELETE  = anti-join by id, rewriting ONLY the coarse-cell partitions that
            contain deleted rows (dynamic partition overwrite — the analog
            of condenseTree touching only the affected path);
- STATS   = ``refresh_stats`` re-aggregates the WHOLE stored index
            (every partition, not only the touched ones): no per-cell
            counts are kept across writes yet. Folding count deltas
            into each commit, and re-aggregating only touched files, is
            ROADMAP direction 2 (one transactional index store).

On Iceberg the same operations are ``MERGE INTO``/row-level DELETE with
snapshot isolation; plain parquet + dynamic partition overwrite keeps the
sandbox dependency-free while exercising identical partition discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.index import IndexLayout, build_index, cell_stats


def insert_docs(spark: SparkSession, path: str, new_docs_geo: DataFrame,
                layout: IndexLayout = IndexLayout(),
                cfg: EngineConfig = DEFAULT) -> int:
    """Append new documents to the stored index (I1). Returns rows added.

    Appending never rewrites existing partitions; hot-cell re-splitting of
    partitions that grew past the threshold is a separate compaction pass
    (run build_index over the touched partitions when stats say so)."""
    indexed, _ = build_index(new_docs_geo, layout, cfg)
    # persist so the count reuses the frame the write materialized — without
    # it the count re-runs the whole build job (stats agg + hot-cell join)
    indexed = indexed.persist()
    try:
        indexed.write.mode("append").partitionBy("cell_coarse").parquet(path)
        return indexed.count()
    finally:
        indexed.unpersist()


def delete_docs(spark: SparkSession, path: str, ids: DataFrame,
                id_col: str = "doc_id") -> int:
    """Row-level delete (I5): rewrite only the partitions containing victims.

    ``ids``: single-column frame of doc ids to remove. Returns rows deleted."""
    idx = spark.read.parquet(path)
    victims = idx.join(F.broadcast(ids), id_col, "left_semi")
    touched = [r.cell_coarse for r in
               victims.select("cell_coarse").distinct().collect()]
    if not touched:
        return 0
    n_before = idx.filter(F.col("cell_coarse").isin(touched)).count()
    survivors = (idx.filter(F.col("cell_coarse").isin(touched))
                 .join(F.broadcast(ids), id_col, "left_anti")
                 # pin rows before the dynamic overwrite clobbers the files
                 # they are lazily read from
                 .localCheckpoint(eager=True))
    # per-write dynamic overwrite: only the touched partitions are
    # replaced, and the session conf is never changed
    (survivors.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("cell_coarse").parquet(path))
    # dynamic overwrite only rewrites partitions PRESENT in the written data:
    # a partition whose every row was a victim is absent from `survivors`, so
    # its old files would silently remain — clear those directories explicitly
    alive = {r.cell_coarse for r in
             survivors.select("cell_coarse").distinct().collect()}
    emptied = [c for c in touched if c not in alive]
    if emptied:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(conf)
        for c in emptied:
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/cell_coarse={c}")
            if fs.exists(p):
                fs.delete(p, True)
    return n_before - survivors.count()


def insert_docs_snapshot(table, new_docs_geo: DataFrame,
                         layout: IndexLayout = IndexLayout(),
                         cfg: EngineConfig = DEFAULT) -> int:
    """I1 over a SnapshotTable index: encode + append in one committed
    snapshot — interrupted runs keep serving the previous snapshot and
    resume by re-running the append (plans/snapshots.py)."""
    indexed, _ = build_index(new_docs_geo, layout, cfg)
    return table.append(indexed)


def delete_docs_snapshot(table, ids: DataFrame, id_col: str = "doc_id") -> int:
    """I5 over a SnapshotTable index: copy-on-write keyed delete — only
    data files holding victims are rewritten, the rest carry over, and
    readers of older snapshots still see the deleted rows (time travel)."""
    return table.delete_matching(ids, id_col)


def refresh_stats(spark: SparkSession, path: str,
                  cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Recompute per-cell aggregates from the stored index
    (``index.cell_stats``, the same aggregate build_index returns)."""
    return cell_stats(spark.read.parquet(path))
