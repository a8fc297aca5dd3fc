"""Density-based spatial clustering (DBSCAN) — distributed, exact.

The reference stops at group-nearest scoring (GetGroupMinDist,
mbR-NGQ/Data/RTree.cs:938-966); clustering the corpus itself is the
canonical downstream use of the same ε-neighborhood primitive, so it is
built HERE from the two operators the engine already trusts at scale:

- ε-neighbor pairs from the grid ε-join (operators/distance_join.py):
  both sides shuffle once by cell (or arrive co-located from the index
  layout); dense-city cells are AQE-skew-split.
- core points by ONE map-side-combinable degree count.
- core-graph components via the alternating large/small-star algorithm
  (operators/graph.py) — round count O(log² n) independent of cluster
  diameter, which is the property a 100 TB corpus needs (density-chained
  clusters are exactly the long-diameter case hash-min propagation
  would crawl on).
- border points by one more join against the (≤ #cores) label table.

Exact DBSCAN semantics with the one standard determinism pin: a border
point in reach of SEVERAL clusters is assigned the MINIMUM cluster
label (classic DBSCAN leaves it first-scanner-wins, which no
shared-nothing engine can reproduce run-to-run). Noise rows are
omitted; callers anti-join if they want them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.distance_join import distance_join
from mbrngq_spark.operators.graph import connected_components


def dbscan_geodetic(spark, docs_ll: DataFrame, eps_m: float, min_pts: int,
                    res: int = 5, id_col: str = "doc_id") -> DataFrame:
    """Spherical DBSCAN: identical clustering algebra over great-circle
    ε-neighborhoods (geodetic.geodetic_pairs — pole/wrap-safe cell-PAIR
    candidates instead of the planar 3×3 trick). Same determinism pins
    as :func:`dbscan`; distances compare 2-dp-rounded (the geodetic
    ranking discipline)."""
    from mbrngq_spark.operators.geodetic import geodetic_pairs
    pairs = geodetic_pairs(spark, docs_ll, eps_m, res=res, id_col=id_col)
    return _dbscan_from_pairs(pairs, docs_ll.select(id_col), min_pts, id_col)


def dbscan(docs_geo: DataFrame, eps: float, min_pts: int,
           cfg: EngineConfig = DEFAULT, id_col: str = "doc_id") -> DataFrame:
    """(id_col, cluster, is_core) for every non-noise point.

    ``cluster`` is the minimum ``id_col`` among the cluster's CORE
    points (deterministic canonical label). A point is core iff its
    closed ε-ball holds ≥ ``min_pts`` points INCLUDING itself; border
    points (non-core within ε of ≥1 core) get the min label among
    their core neighbors."""
    pairs = distance_join(docs_geo, docs_geo, eps, cfg=cfg,
                          self_join=True, id_col=id_col)
    return _dbscan_from_pairs(pairs, docs_geo.select(id_col), min_pts, id_col)


def _dbscan_from_pairs(pairs: DataFrame, ids: DataFrame, min_pts: int,
                       id_col: str) -> DataFrame:
    """Shared clustering algebra over an unordered (a_id, b_id)
    ε-neighbor pair set (each pair once, a_id < b_id) of the points
    ``ids`` (one ``id_col`` column)."""
    sym = (pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
           .union(pairs.select(F.col("b_id").alias("u"),
                               F.col("a_id").alias("v"))))
    if min_pts <= 1:
        # every closed ε-ball holds its own point, so every point is core
        # — including isolated ones, which appear in no pair
        cores = ids.select(F.col(id_col).alias("id"))
    else:
        deg = sym.groupBy("u").agg((F.count(F.lit(1)) + 1).alias("deg"))
        cores = deg.filter(F.col("deg") >= F.lit(int(min_pts))) \
            .select(F.col("u").alias("id"))

    core_edges = (sym
                  .join(cores.select(F.col("id").alias("u")), "u")
                  .join(cores.select(F.col("id").alias("v")), "v"))
    comp = connected_components(core_edges, src="u", dst="v")
    # cores with no core neighbor form their own singleton cluster
    iso = (cores.join(comp, "id", "left_anti")
           .select("id", F.col("id").alias("component")))
    core_lbl = comp.unionByName(iso)

    border = (sym
              .join(cores.select(F.col("id").alias("u")), "u", "left_anti")
              .join(core_lbl.select(F.col("id").alias("v"),
                                    F.col("component")), "v")
              .groupBy("u")
              .agg(F.min("component").alias("component")))

    return (core_lbl.select(F.col("id").alias(id_col),
                            F.col("component").alias("cluster"),
                            F.lit(True).alias("is_core"))
            .unionByName(border.select(F.col("u").alias(id_col),
                                       F.col("component").alias("cluster"),
                                       F.lit(False).alias("is_core"))))
