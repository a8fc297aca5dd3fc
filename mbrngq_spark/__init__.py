"""mbrngq_spark — a PySpark-native spatial NGQ + tiling + pipeline engine.

A brand-new engine with the query capabilities of the reference
``taeminlee/mbRNGQ`` (an in-memory C# mbR-tree nearest-group-query library,
see SURVEY.md), re-expressed Spark-first:

- the mbR-tree is replaced by a distributed hierarchical Z-order cell-grid
  index (``grid.py`` + ``index.py``) carried as ordinary bigint columns;
- range / kNN / nearest-group queries become broadcast cell-candidate joins
  plus exact refinement (native Column math, or an ``applyInArrow``
  per-query NumPy kernel for the group queries);
- the per-node category BitArray ("mb") becomes a per-cell ``bit_or`` mask;
- everything runs on parquet/Iceberg-style tables of interleaved documents
  whose span payloads survive every shuffle untouched.

All distance / bound semantics mirror the reference formulas (cited
per-module by ``file:line`` into /root/reference) without copying its code.
"""

from mbrngq_spark.config import EngineConfig, session

__all__ = ["EngineConfig", "session"]
