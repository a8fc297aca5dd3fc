"""Point-in-polygon join (north_rule operator).

Generalizes the reference's containment range query (RTree.Contains,
mbR-NGQ/Data/RTree.cs:2002-2070 — SURVEY.md Q2) from rects to polygons,
as one candidate→refine pipeline with no Python in the plan:

  prune   — docs ⋈ covering-cells(polygon bbox) (``grid.bbox_cover``:
            quantized bbox corners → explode(sequence) → Morton cell at
            the index resolution, same shape as range_query.py), then
            the exact closed-bbox filter;
  refine  — the even-odd ray-crossing test as one Column fold
            (``geom.pnpoly``) over the vertex arrays the cover rows
            carry.

Each doc has exactly ONE cell and each (poly_id, cell) appears once in the
cover, so a doc meets a polygon at most once — no dedup stage. Pandas
polygons (the small side) have their cover broadcast, so the doc side is
never shuffled; a polygon DataFrame of any size leaves the cover join to
AQE, whose skew join splits hot cells.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark import geom, grid
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.knn import with_cell


def polygons_df(spark: SparkSession, polygons: pd.DataFrame) -> DataFrame:
    """pandas (poly_id, vx: list[float], vy: list[float]) → DataFrame with
    an explicit schema (an empty frame gives zero rows)."""
    return spark.createDataFrame(
        polygons[["poly_id", "vx", "vy"]],
        "poly_id long, vx array<double>, vy array<double>")


def point_in_polygon_join(spark: SparkSession, docs_geo: DataFrame,
                          polygons: pd.DataFrame | DataFrame,
                          res: int | None = None,
                          cfg: EngineConfig = DEFAULT,
                          id_col: str = "doc_id") -> DataFrame:
    """docs × polygons containment join.

    ``polygons``: (poly_id, vx, vy) vertex lists — a pandas frame (its
    cover is broadcast) or a DataFrame (poly_id long, vx array<double>,
    vy array<double>) of any size (AQE picks the cover join). Returns
    (poly_id, doc_id, x, y) for docs strictly inside each polygon
    (even-odd rule)."""
    res = res or cfg.index_res
    small = not isinstance(polygons, DataFrame)
    if small:
        polygons = polygons_df(spark, polygons)
    cover = grid.bbox_cover(polygons, res, cfg).drop("ix", "iy")
    px, py = F.col("x"), F.col("y")
    return (with_cell(docs_geo, res, cfg)
            .join(F.broadcast(cover) if small else cover, "cell")
            .filter(geom.point_in_rect(px, py, F.col("x0"), F.col("y0"),
                                       F.col("x1"), F.col("y1")))
            .filter(geom.pnpoly(px, py, F.col("vx"), F.col("vy")))
            .select("poly_id", id_col, "x", "y"))
