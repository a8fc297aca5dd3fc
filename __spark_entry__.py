"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (+ the
training-data-pipeline operators) as (spark, sf_dir) → DataFrame callables;
``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL. Both sides are
generated from the shared constants in ``mbrngq_spark/harness.py`` so they
cannot drift. Geometry for the spatial operators is derived from ``doc_id``
by integer arithmetic that is bit-exact in Spark and DuckDB
(mbrngq_spark/functions/derive.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F

from mbrngq_spark import harness as H
from mbrngq_spark.config import DEFAULT
from mbrngq_spark.functions import derive
from mbrngq_spark.operators import dedup, similarity, text, tiles
from mbrngq_spark.operators.knn import knn_join
from mbrngq_spark.operators.ngq import nearest_group
from mbrngq_spark.operators.pip import point_in_polygon_join
from mbrngq_spark.operators.range_query import range_query


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: NGQ top-k groups on sf0.001 (SURVEY.md Q4)."""
    docs_geo = H.load_docs_geo(spark, "/root/testdata/sf0.001")
    out = nearest_group(spark, docs_geo, H.queries_pdf(),
                        k=H.NGQ_K, L=H.NGQ_L)
    return out.select("query_id",
                      F.col("group_rank").cast("long").alias("group_rank"),
                      "c0_id", "c1_id", "c2_id",
                      F.round("min_dist", 6).alias("min_dist"))


# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

def _q_spatial_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_geo = H.load_docs_geo(spark, sf_dir)
    return range_query(spark, docs_geo, H.rects_pdf()) \
        .select("rect_id", "doc_id", "x", "y")


def _q_spatial_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_geo = H.load_docs_geo(spark, sf_dir)
    out = knn_join(spark, docs_geo, H.queries_pdf(), k=H.KNN_K)
    return out.select("query_id", "doc_id",
                      F.col("rank").cast("long").alias("rnk"),
                      F.round("dist", 6).alias("dist"))


def _q_spatial_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3, BOTH contracts in one gate (driver 50-entry window): part
    'ties' = ALL co-minimal nearest (rank with ties, k=1); part 'capped'
    = radius-capped kNN — RTree.Nearest(p, furthestDistance)
    (RTree.cs:454-474), answers beyond the cap excluded so some queries
    return fewer than k rows."""
    docs_geo = H.load_docs_geo(spark, sf_dir)
    ties = (knn_join(spark, docs_geo, H.queries_pdf(), k=1, keep_ties=True)
            .select(F.lit("ties").alias("part"), "query_id", "doc_id",
                    F.lit(1).cast("long").alias("rnk"),
                    F.round("dist", 6).alias("dist")))
    capped = (knn_join(spark, docs_geo, H.queries_pdf(), k=H.KNN_K,
                       max_dist=H.KNN_CAP)
              .select(F.lit("capped").alias("part"), "query_id", "doc_id",
                      F.col("rank").cast("long").alias("rnk"),
                      F.round("dist", 6).alias("dist")))
    return ties.unionByName(capped)


def _q_spatial_ngq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGQ under TWO parametrizations in one gate (driver 50-entry
    window): part 'm3' = the default m=3 kernel; part 'm5' = cfg.m=5 —
    the reference's Config.m is a free parameter (Config.cs:11; MGroup
    ctor asserts member count == m, RTree.cs:650-654), L=8 keeps the
    oracle's L^m enumeration bounded. Member ids ride as ONE
    comma-joined string so both widths share a schema (array-valued
    gate columns hash unreliably across engines).

    max_rounds=1 pins the engine to the oracle's fixed-L semantics: the
    oracle SQL truncates at L per category, while adaptive escalation
    would (more correctly) widen L when the exactness bound fails — the
    two must be compared under the SAME L or the gate fails by design on
    escalation-triggering data. Escalation is exercised by test_ngq.py."""
    from mbrngq_spark.config import EngineConfig

    def run(part: str, m: int, k: int, L: int) -> DataFrame:
        cfg = EngineConfig(m=m)
        docs_geo = H.load_docs_geo(spark, sf_dir, cfg)
        out = nearest_group(spark, docs_geo, H.queries_pdf(), k=k, L=L,
                            cfg=cfg, max_rounds=1)
        return out.select(
            F.lit(part).alias("part"), "query_id",
            F.col("group_rank").cast("long").alias("group_rank"),
            F.concat_ws(",", *[F.col(f"c{i}_id").cast("string")
                               for i in range(m)]).alias("members"),
            F.round("min_dist", 6).alias("min_dist"))

    return run("m3", 3, H.NGQ_K, H.NGQ_L) \
        .unionByName(run("m5", H.NGQ5_M, H.NGQ5_K, H.NGQ5_L))


def _q_spatial_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-distance self-join (operators/distance_join.py): grid-bucketed
    all-pairs-within-eps — each qualifying pair found exactly once via the
    3×3 neighbor-cell equi-join, verified against the oracle's quadratic
    distance filter."""
    from mbrngq_spark.operators.distance_join import distance_join
    docs_geo = H.load_docs_geo(spark, sf_dir)
    out = distance_join(docs_geo, docs_geo, eps=H.EPS_JOIN, self_join=True)
    return out.select("a_id", "b_id", F.round("dist", 6).alias("dist"))


def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_geo = H.load_docs_geo(spark, sf_dir)
    return tiles.assign_tiles(docs_geo).select("doc_id", "tile_id")


def _q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs_geo = H.load_docs_geo(spark, sf_dir)
    return tiles.tile_rollup(docs_geo) \
        .select("tile_id", "n_docs", "catmask", "xmin", "ymin", "xmax", "ymax")


def _q_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster rasterization: every tile each CLOSED query rect
    overlaps (tiles.tile_cover) — corner-bin quantize + bounded JVM-side
    explode, no shuffle."""
    return tiles.tile_cover(spark, H.rects_pdf())


def _q_poly_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon rasterization (tiles.polygon_cover): every tile whose
    CENTER is inside each fixture triangle, via the Column PNPOLY fold
    (geom.pnpoly) over bbox-cover candidates. The oracle replays PNPOLY
    edge-by-edge with the SAME (i, j) operand order and division form,
    so the even-odd decision is bit-identical — no convexity shortcut."""
    import pandas as pd

    from mbrngq_spark.operators.geodetic import geodetic_polygon_cover
    from mbrngq_spark.operators.tiles import polygon_cover
    polys = pd.DataFrame({
        "poly_id": [t[0] for t in H.TRIANGLES],
        "vx": [[t[1], t[3], t[5]] for t in H.TRIANGLES],
        "vy": [[t[2], t[4], t[6]] for t in H.TRIANGLES],
    })
    cover_df = polygon_cover(spark, polys)
    planar = cover_df.select(
        F.lit("planar").alias("part"), "poly_id", "tile_id", "ix", "iy")
    # part 'compact' (r6): S2-style cover compaction (tiles.compact_cover)
    # — full 2x2 Morton blocks promoted to their parent, repeated to the
    # root, emitted as (res-in-tile_id, ix, iy at that res). The oracle
    # replays the promotion relationally: TILE_RES unrolled rounds of
    # "GROUP BY (poly_id, ix//2, iy//2) HAVING count(*) = 4" over the
    # same planar cover. Round-trip exactness is pytest-held
    # (test_pip_tiles.test_compact_cover_roundtrip_and_reduction).
    from mbrngq_spark import grid as _grid
    from mbrngq_spark.operators.tiles import compact_cover
    comp = compact_cover(
        cover_df.select("poly_id", _grid.cell_from_indices(
            F.col("ix"), F.col("iy")).alias("cell")),
        res=H.TILE_RES, key_cols=["poly_id"])
    compacted = comp.select(
        F.lit("compact").alias("part"), "poly_id",
        F.col("res").cast("long").alias("tile_id"),
        _grid.cell_ix(F.col("cell")).cast("long").alias("ix"),
        _grid.cell_iy(F.col("cell")).cast("long").alias("iy"))
    # part 'geo' (r6): spherical rasterization — lat/lon-grid tiles
    # whose center the wrap-normalized PNPOLY puts inside the GEO_POLYS
    # fixtures (antimeridian quad included); fully distributed, pure
    # Column (geodetic.geodetic_polygon_cover); the oracle tests EVERY
    # grid center exhaustively
    gpolys_df = spark.createDataFrame(
        pd.DataFrame({"poly_id": [p[0] for p in GEO_POLYS],
                      "vlat": [p[1] for p in GEO_POLYS],
                      "vlon": [p[2] for p in GEO_POLYS]}),
        "poly_id long, vlat array<double>, vlon array<double>")
    geo = geodetic_polygon_cover(gpolys_df, res=5).select(
        F.lit("geo").alias("part"), "poly_id",
        F.col("cell").alias("tile_id"), "ix", "iy")
    # part 'geo_area' (r6): spherical polygon AREA (signed-excess fan,
    # geodetic.geodetic_polygon_area) — the measure companion of the
    # cover; packed into the long schema as 10^-4-km² units (one 4-dp
    # rounding of a double both engines computed term-by-term in the
    # same order, then an exact ×10^4 integerization)
    from mbrngq_spark.operators.geodetic import geodetic_polygon_area
    area = geodetic_polygon_area(gpolys_df).select(
        F.lit("geo_area").alias("part"), "poly_id",
        F.round(F.col("area_km2") * 10000).cast("long").alias("tile_id"),
        F.lit(-1).cast("int").alias("ix"), F.lit(-1).cast("int").alias("iy"))
    # part 'zonal' (r6): raster-over-zones aggregate (tiles.zonal_stats)
    # — per polygon (sum_docs, n_tiles, max_docs) packed into the long
    # schema as (tile_id, ix, iy); oracle composes the same cover CTE
    # with a per-tile count left join
    from mbrngq_spark.operators.tiles import zonal_stats
    zonal = zonal_stats(spark, H.load_docs_geo(spark, sf_dir), polys).select(
        F.lit("zonal").alias("part"), "poly_id",
        F.col("sum_docs").cast("long").alias("tile_id"),
        F.col("n_tiles").cast("long").alias("ix"),
        F.col("max_docs").cast("long").alias("iy"))
    # part 'crossing' (r6): route-crossing detection
    # (lines.segment_crossing_join) — per-doc derived tracks vs the
    # fixture routes, crossing POINT coordinates micro-quantized
    # (t = o3/(o3−o4): one division, identical op order → bit-exact)
    from mbrngq_spark.functions import derive as _derive
    from mbrngq_spark.operators.lines import segment_crossing_join
    dg = H.load_docs_geo(spark, sf_dir)
    xh = _derive.x_col(F.col("doc_id") + 7777)
    yh = _derive.y_col(F.col("doc_id") + 7777)
    tracks = dg.select(
        "doc_id", F.col("x").alias("ax"), F.col("y").alias("ay"),
        (F.col("x") + (xh - 50.0) / 50.0 * 6.0).alias("bx"),
        (F.col("y") + (yh - 50.0) / 50.0 * 6.0).alias("by"))
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [l[0] for l in H.POLYLINES],
                      "vx": [l[1] for l in H.POLYLINES],
                      "vy": [l[2] for l in H.POLYLINES]}),
        "line_id long, vx array<double>, vy array<double>")
    crossing = segment_crossing_join(tracks, lines_df).select(
        F.lit("crossing").alias("part"),
        F.col("line_id").alias("poly_id"),
        F.col("doc_id").alias("tile_id"),
        F.round(F.col("cx") * 1e6).cast("long").alias("ix"),
        F.round(F.col("cy") * 1e6).cast("long").alias("iy"))
    # part 'measure' (r6): planar polygon measures
    # (overlay.polygon_measures) over derived per-doc quads — shoelace
    # area + centroid as sequential folds, bit-exact cross-engine,
    # micro-quantized into the long schema
    from mbrngq_spark.operators.overlay import polygon_measures
    wq = F.lit(2.0) + (_derive.x_col(F.col("doc_id") + 3333) - 50.0) / 50.0
    hq = F.lit(2.0) + (_derive.y_col(F.col("doc_id") + 3333) - 50.0) / 50.0
    quads = dg.select(
        "doc_id",
        F.array(F.col("x"), F.col("x") + wq, F.col("x") + wq * 0.6,
                F.col("x")).alias("vx"),
        F.array(F.col("y"), F.col("y"), F.col("y") + hq,
                F.col("y") + hq * 0.8).alias("vy"))
    meas = polygon_measures(quads, id_col="doc_id").select(
        F.lit("measure").alias("part"),
        F.col("doc_id").alias("poly_id"),
        F.round(F.col("area") * 1e6).cast("long").alias("tile_id"),
        F.round(F.col("cx") * 1e6).cast("long").alias("ix"),
        F.round(F.col("cy") * 1e6).cast("long").alias("iy"))
    # part 'hull' (r6): distributed convex hull (hull.convex_hull) —
    # per-partition monotone chain → final chain over the tiny candidate
    # union, all orientation tests exact int64 cross products on the
    # micro-quantized grid; emitted as the directed CCW edge set
    # (poly_id = vertex id, tile_id = next vertex id, ix/iy = the
    # vertex), start-independent. The oracle runs the O(n³)
    # all-points-left edge test WITH the collinear-on-edge case (the
    # lattice fixture makes collinear hull-edge points common).
    from mbrngq_spark.operators.hull import convex_hull
    dg_h = dg.filter(F.col("doc_id") < H.HULL_N)
    hull = convex_hull(dg_h).select(
        F.lit("hull").alias("part"), F.col("id").alias("poly_id"),
        F.col("next_id").alias("tile_id"),
        F.col("qx").alias("ix"), F.col("qy").alias("iy"))
    # part 'diameter' (r6): farthest pair (hull.hull_diameter) — the
    # point-set diameter is always a strict-hull-vertex pair, so the
    # quadratic scan runs over O(h) hull vertices; exact int64 squared
    # distance, (a_id, b_id) tiebreak. Oracle scans ALL quantized pairs.
    from mbrngq_spark.operators.hull import hull_diameter
    diam = hull_diameter(dg_h).select(
        F.lit("diameter").alias("part"), F.col("a_id").alias("poly_id"),
        F.col("b_id").alias("tile_id"), F.col("d2q").alias("ix"),
        F.lit(-1).cast("long").alias("iy"))
    # part 'contour' (r6): marching-squares isoline extraction
    # (tiles.contour_segments) at level CONTOUR_T over the int64 KDE
    # raster — raster→vector: two endpoint rows per segment, poly_id
    # packs ((sx·n+sy)·4+seg)·2+end, tile_id=case, ix/iy the
    # micro-quantized crossing point (one int→double division per
    # endpoint, bit-exact; fixed saddle resolution).
    from mbrngq_spark.operators.tiles import contour_segments
    ctn = 1 << H.KDE_RES
    ct = contour_segments(dg, H.KDE_H, H.KDE_RES, H.CONTOUR_T)
    ct_key = (F.col("ix") * ctn + F.col("iy")) * 4 + F.col("seg")

    def _ct_rows(end, xc, yc):
        return ct.select(
            F.lit("contour").alias("part"),
            (ct_key * 2 + F.lit(end)).alias("poly_id"),
            F.col("case_id").alias("tile_id"),
            F.round(F.col(xc) * 1e6).cast("long").alias("ix"),
            F.round(F.col(yc) * 1e6).cast("long").alias("iy"))

    contour = _ct_rows(0, "x1", "y1").unionByName(_ct_rows(1, "x2", "y2"))
    # part 'contour_cc' (r6): isoline assembly (tiles.contour_components)
    # — segments labeled by connected curve (shared lattice-edge keys +
    # alternating-star CC, min-node label); poly_id=node,
    # tile_id=contour label.
    from mbrngq_spark.operators.tiles import contour_components
    ccc = contour_components(dg, H.KDE_H, H.KDE_RES, H.CONTOUR_T).select(
        F.lit("contour_cc").alias("part"), F.col("node").alias("poly_id"),
        F.col("contour").alias("tile_id"),
        F.lit(-1).cast("long").alias("ix"),
        F.lit(-1).cast("long").alias("iy"))
    # part 'skyline' (r6): Pareto-dominance query (hull.skyline) — the
    # min-min staircase via the hull's two-stage reduction (local
    # skylines, then the skyline of their union — valid by dominance
    # transitivity); exact int64 comparisons. poly_id=id, ix/iy=the
    # quantized point.
    from mbrngq_spark.operators.hull import skyline
    sky = skyline(dg_h).select(
        F.lit("skyline").alias("part"), F.col("id").alias("poly_id"),
        F.lit(-1).cast("long").alias("tile_id"),
        F.col("qx").alias("ix"), F.col("qy").alias("iy"))
    # part 'simplify' (r6): Douglas-Peucker polyline simplification
    # (lines.simplify_polylines) over per-doc derived 8-vertex tracks —
    # bounded BFS rounds (full DP at this V), int64-quantized exact
    # distances, (−dq, idx) tiebreaks; kept vertices micro-quantized.
    from mbrngq_spark.operators.lines import simplify_polylines
    _sv = F.sequence(F.lit(0), F.lit(H.SIMPLIFY_V - 1))
    _svx = F.transform(_sv, lambda i: _derive.x_col(
        F.col("line_id") * 31 + i * 7 + 1))
    _svy = F.transform(_sv, lambda i: _derive.y_col(
        F.col("line_id") * 31 + i * 7 + 1))
    plines = (spark.read.parquet(f"{sf_dir}/documents.parquet")
              .filter(F.col("doc_id") < H.SIMPLIFY_N)
              .select(F.col("doc_id").alias("line_id"))
              .select("line_id", _svx.alias("vx"), _svy.alias("vy")))
    simp = simplify_polylines(plines, H.SIMPLIFY_EPS,
                              H.SIMPLIFY_ROUNDS).select(
        F.lit("simplify").alias("part"),
        F.col("line_id").alias("poly_id"), F.col("idx").alias("tile_id"),
        F.round(F.col("vx") * 1e6).cast("long").alias("ix"),
        F.round(F.col("vy") * 1e6).cast("long").alias("iy"))
    # part 'geo_simplify' (r6): Douglas-Peucker on the sphere
    # (geodetic.geodetic_simplify) over the same derived tracks mapped
    # to lat/lon — great-circle point-to-arc deviation, centimeter
    # quantized (round(d_m·100) — the 2-dp meter discipline); the
    # oracle replays the 3-D kernel stage-by-stage per unrolled round.
    from mbrngq_spark.operators.geodetic import geodetic_simplify
    glines = plines.select(
        "line_id",
        F.transform(F.col("vy"), lambda t: t * 1.8 - 90.0).alias("vlat"),
        F.transform(F.col("vx"), lambda t: t * 3.6 - 180.0).alias("vlon"))
    gsimp = geodetic_simplify(glines, H.GEO_SIMPLIFY_EPS_M,
                              H.SIMPLIFY_ROUNDS).select(
        F.lit("geo_simplify").alias("part"),
        F.col("line_id").alias("poly_id"), F.col("idx").alias("tile_id"),
        F.round(F.col("vlat") * 1e6).cast("long").alias("ix"),
        F.round(F.col("vlon") * 1e6).cast("long").alias("iy"))
    # part 'refpts' (r6): linear referencing (lines.points_along) —
    # mileposts every REF_STEP along the fixture routes; segment lengths
    # int64-quantized before the per-line cumulative sum, the k-range
    # pure integer ceil-division, the interpolation one int→double
    # division — bit-exact coordinates, micro-quantized into the schema
    from mbrngq_spark.operators.lines import points_along
    refpts = points_along(lines_df, H.REF_STEP).select(
        F.lit("refpts").alias("part"),
        F.col("line_id").alias("poly_id"),
        F.col("k").alias("tile_id"),
        F.round(F.col("px") * 1e6).cast("long").alias("ix"),
        F.round(F.col("py") * 1e6).cast("long").alias("iy"))
    return (planar.unionByName(compacted).unionByName(geo)
            .unionByName(area).unionByName(zonal)
            .unionByName(crossing).unionByName(meas)
            .unionByName(hull).unionByName(diam).unionByName(sky)
            .unionByName(contour).unionByName(ccc).unionByName(simp)
            .unionByName(gsimp).unionByName(refpts))


def _q_spatial_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-tagged union: pip.point_in_polygon_join (bbox cover +
    Column PNPOLY fold) over 'driver' = pandas polygons (cover
    broadcast) and 'dist' = a polygon DataFrame (AQE picks the cover
    join) — same membership, both value-checked against the
    cross-product triangle oracle."""
    import pandas as pd
    docs_geo = H.load_docs_geo(spark, sf_dir)
    polys = pd.DataFrame({
        "poly_id": [t[0] for t in H.TRIANGLES],
        "vx": [[t[1], t[3], t[5]] for t in H.TRIANGLES],
        "vy": [[t[2], t[4], t[6]] for t in H.TRIANGLES],
    })
    drv = (point_in_polygon_join(spark, docs_geo, polys)
           .select(F.lit("driver").alias("part"), "poly_id", "doc_id"))
    polys_df = spark.createDataFrame(
        polys, "poly_id long, vx array<double>, vy array<double>")
    dist = (point_in_polygon_join(spark, docs_geo, polys_df)
            .select(F.lit("dist").alias("part"), "poly_id", "doc_id"))
    # spherical parts: same lat/lon corpus mapping as the geo_* gates;
    # 'geo' = pandas polygons (celled cover broadcast), 'geo_dist' = the
    # same function over a polygon DataFrame — both against the
    # unrolled-literal PNPOLY predicate recomputed in DuckDB (incl. the
    # antimeridian quad)
    from mbrngq_spark.operators.geodetic import geodetic_point_in_polygon
    docs_ll = docs_geo.select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    gpolys = pd.DataFrame({
        "poly_id": [p[0] for p in GEO_POLYS],
        "vlat": [p[1] for p in GEO_POLYS],
        "vlon": [p[2] for p in GEO_POLYS]})
    geo = (geodetic_point_in_polygon(docs_ll, gpolys)
           .select(F.lit("geo").alias("part"), "poly_id", "doc_id"))
    gpolys_df = spark.createDataFrame(
        gpolys, "poly_id long, vlat array<double>, vlon array<double>")
    geo_dist = (geodetic_point_in_polygon(docs_ll, gpolys_df)
                .select(F.lit("geo_dist").alias("part"), "poly_id",
                        "doc_id"))
    # part 'overlay' (r6): polygon×polygon intersects join
    # (overlay.polygon_intersects_join) — fixture triangles vs per-doc
    # axis-aligned squares (half-width H.OVERLAY_S); the oracle unrolls
    # the 12 edge-pair orientation tests + both containment fallbacks
    from mbrngq_spark.operators.overlay import polygon_intersects_join
    s = F.lit(H.OVERLAY_S)
    squares = docs_geo.select(
        F.col("doc_id").alias("b_id"),
        F.array(F.col("x") - s, F.col("x") + s, F.col("x") + s,
                F.col("x") - s).alias("vx"),
        F.array(F.col("y") - s, F.col("y") - s, F.col("y") + s,
                F.col("y") + s).alias("vy"))
    ovl = (polygon_intersects_join(polys_df, squares, a_id="poly_id")
           .select(F.lit("overlay").alias("part"), "poly_id",
                   F.col("b_id").alias("doc_id")))
    return (drv.unionByName(dist).unionByName(geo)
            .unionByName(geo_dist).unionByName(ovl))


def _q_spatial_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index bounds accessor — RTree.getBounds (RTree.cs:2075-2085) as a
    global MBR aggregate, plus counts per category (Count/TreeHeight-class
    accessors, RTree.cs:2706-2712)."""
    docs_geo = H.load_docs_geo(spark, sf_dir)
    return (docs_geo.groupBy("category")
            .agg(F.count("*").alias("n"),
                 F.min("x").alias("xmin"), F.min("y").alias("ymin"),
                 F.max("x").alias("xmax"), F.max("y").alias("ymax")))


def _q_spatial_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rect×rect intersects join (Q1 for rect inputs, Rectangle.cs:187-199):
    per-doc boxes (hash-sized) against the literal query rects, overlap
    semantics — broadcast nested-loop on the tiny side after cell prune is
    unnecessary at this rect count; the exact interval predicate is the
    contract under test."""
    from mbrngq_spark import geom
    docs_geo = H.load_docs_geo(spark, sf_dir)
    half = (F.pmod(F.col("doc_id") * 7919 + 13, F.lit(1000))
            .cast("double") / 1000.0 * 2.0 + 0.25)
    boxes = (docs_geo
             .withColumn("bxmin", F.col("x") - half)
             .withColumn("bymin", F.col("y") - half)
             .withColumn("bxmax", F.col("x") + half)
             .withColumn("bymax", F.col("y") + half))
    rects = spark.createDataFrame(H.rects_pdf())
    pred = geom.rect_intersects(
        F.col("bxmin"), F.col("bymin"), F.col("bxmax"), F.col("bymax"),
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))
    return (boxes.join(F.broadcast(rects), pred)
            .select("rect_id", "doc_id"))


def _q_cell_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (hypertable-style) rollup: per-cell stats at two
    resolutions in one table; the coarse level is derivable from the fine
    level by Morton parent truncation (grid.cell_parent ≡ cell >> 2·Δ) —
    the distributed CalculateBitArray pyramid (RTree.cs:209-247).

    Part 'stats' = count + category bitmask per cell (a=n_docs,
    b=catmask). Part 'hll' (r6) = the distinct-user HLL register pyramid
    (tiles.tile_distinct_pyramid: hashed once at the fine level, coarse
    level is a register-max MERGE through Morton parents; a=register,
    b=rho) — the oracle rebuilds the coarse registers DIRECTLY from
    rows, so the hash match proves rollup == direct cross-engine."""
    from mbrngq_spark import grid
    from mbrngq_spark.operators.tiles import tile_distinct_pyramid
    docs_geo = H.load_docs_geo(spark, sf_dir)
    levels = []
    for res in (2, H.MASK_RES):
        levels.append(
            docs_geo
            .withColumn("cell", grid.cell_encode(F.col("x"), F.col("y"),
                                                 res, H.CFG))
            .groupBy("cell")
            .agg(F.count("*").alias("n_docs"),
                 F.bit_or(F.expr("shiftleft(1, category)"))
                 .cast("long").alias("catmask"))
            .withColumn("res", F.lit(res).cast("int")))
    stats = (levels[0].unionByName(levels[1])
             .select(F.lit("stats").alias("part"), "res", "cell",
                     F.col("n_docs").alias("a"),
                     F.col("catmask").alias("b")))
    dg = docs_geo.withColumn("user", (F.col("doc_id") % 37).cast("long"))
    hll = (tile_distinct_pyramid(dg, "user", [2, H.MASK_RES], H.CFG)
           .select(F.lit("hll").alias("part"), "res", "cell",
                   F.col("register").alias("a"), F.col("rho").alias("b")))
    # part 'kde' (r6): biweight kernel-density heatmap
    # (tiles.tile_heatmap) — per-(doc, cell) weights int64-quantized
    # BEFORE the sum so the aggregate is exactly associative; a = the
    # quantized weight sum, b = contributing-doc count. Kernel is
    # +,-,*,/ only (no libm), so both engines compute identical doubles.
    from mbrngq_spark.operators.tiles import tile_heatmap
    kde = (tile_heatmap(docs_geo, H.KDE_H, H.KDE_RES, H.CFG)
           .select(F.lit("kde").alias("part"),
                   F.lit(H.KDE_RES).cast("int").alias("res"), "cell",
                   F.col("wq").alias("a"), F.col("n_docs").alias("b")))
    # part 'focal' (r6): 3×3 focal map algebra (tiles.focal_stats) —
    # splat, not join: a = focal sum, b = focal max of the 8-neighborhood
    # (+self) doc counts; exact int64 end to end.
    from mbrngq_spark.operators.tiles import focal_stats, hotspot_gi, \
        idw_interpolate
    focal = (focal_stats(docs_geo, H.MASK_RES, H.CFG)
             .select(F.lit("focal").alias("part"),
                     F.lit(H.MASK_RES).cast("int").alias("res"), "cell",
                     F.col("focal_sum").alias("a"),
                     F.col("focal_max").alias("b")))
    # part 'hotspot' (r6): Getis-Ord Gi* z-score per cell
    # (tiles.hotspot_gi) — every input an exact int64 (focal sum, W_i,
    # corpus total/sumsq), the score a fixed /,*,−,sqrt dag over them →
    # bit-identical doubles; packed as a = floor(gi·10^6) (floor, not
    # round — Gi* is signed and round-half differs at negative .5
    # boundaries across engines), b = W_i.
    hot = (hotspot_gi(docs_geo, H.MASK_RES, H.CFG)
           .select(F.lit("hotspot").alias("part"),
                   F.lit(H.MASK_RES).cast("int").alias("res"), "cell",
                   F.floor(F.col("gi") * F.lit(1e6)).cast("long").alias("a"),
                   F.col("w_i").alias("b")))
    # part 'idw' (r6): inverse-distance-weighted interpolation surface
    # (tiles.idw_interpolate) of the derived per-doc value doc_id % 97 —
    # smoothed weights 1/(d²+s²) and weighted values int64-quantized
    # BEFORE the sums (exactly associative); a = Σ round(w·v·q),
    # b = Σ round(w·q).
    docs_v = docs_geo.withColumn(
        "v", (F.col("doc_id") % 97).cast("double"))
    idw = (idw_interpolate(docs_v, "v", H.KDE_H, H.KDE_RES, H.CFG)
           .select(F.lit("idw").alias("part"),
                   F.lit(H.KDE_RES).cast("int").alias("res"), "cell",
                   F.col("numq").alias("a"), F.col("denq").alias("b")))
    # part 'moran' (r6): global Moran's I over the same raster — ONE row
    # (cell = −1), every corpus-sized input an exact int64 (crossnum,
    # sumxw, total, sumsq, closed-form W), score a fixed double dag;
    # a = floor(I·10⁹) (signed → floor), b = W.
    from mbrngq_spark.operators.tiles import moran_i
    mor = (moran_i(docs_geo, H.MASK_RES, H.CFG)
           .select(F.lit("moran").alias("part"),
                   F.lit(H.MASK_RES).cast("int").alias("res"),
                   F.lit(-1).cast("long").alias("cell"),
                   F.floor(F.col("moran") * F.lit(1e9)).cast("long")
                   .alias("a"),
                   F.col("w_tot").alias("b")))
    # part 'balance' (r6): equi-depth Morton range partitioner
    # (index.balanced_cell_partitions) — cell → part assignment via the
    # closed form (cum_before·P) div total; contiguous ranges,
    # ≤ total/P + max_cell docs per part, all integer. a=part_id,
    # b=n_docs.
    from mbrngq_spark.index import balanced_cell_partitions
    bal = (balanced_cell_partitions(docs_geo, H.MASK_RES, H.BAL_P, H.CFG)
           .select(F.lit("balance").alias("part"),
                   F.lit(H.MASK_RES).cast("int").alias("res"), "cell",
                   F.col("part_id").alias("a"),
                   F.col("n_docs").alias("b")))
    # part 'geo_hotspot' (r6): Gi* on the sphere's lat/lon raster
    # (geodetic.geodetic_hotspot_gi) — the 3×3 window WRAPS in longitude
    # (antimeridian) and clamps at the poles; same exact-int inputs /
    # fixed double dag; a = floor(gi·10⁶), b = W_i.
    from mbrngq_spark.operators.geodetic import geodetic_hotspot_gi
    docs_ll5 = docs_geo.select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    ghot = (geodetic_hotspot_gi(docs_ll5, 5)
            .select(F.lit("geo_hotspot").alias("part"),
                    F.lit(5).cast("int").alias("res"),
                    (F.col("iy") * 32 + F.col("ix")).cast("long")
                    .alias("cell"),
                    F.floor(F.col("gi") * F.lit(1e6)).cast("long")
                    .alias("a"),
                    F.col("w_i").alias("b")))
    return (stats.unionByName(hll).unionByName(kde)
            .unionByName(focal).unionByName(hot).unionByName(idw)
            .unionByName(mor).unionByName(bal).unionByName(ghot))


def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH on a corpus with planted duplicates (ids+10000 exact,
    ids+20000 one-token-perturbed), BOTH faces in one gate (driver
    50-entry window):

    part 'near' — end-to-end near-dup detection. The production LSH
    candidate stage is xxhash64-seeded (not replicable in DuckDB) → the
    oracle is the exact Jaccard-threshold pair set; the entry passes
    exactly when LSH recall on the planted corpus is 1.0 at these
    (H, bands) — deterministic, since every hash is seeded.

    part 'bands' — the LSH candidate STAGE with the md5 hash family,
    bit-reproducible in DuckDB (dedup.lsh_candidates_md5), so the
    banding/bucketing/join logic itself is oracle-checked, not just the
    verified output; whatever collides, both engines collide identically
    (jaccard = -1 sentinel: the stage emits candidates, not scores)."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet")         .filter(F.col("doc_id") < 60).select("doc_id", "text")
    exact = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.lit("zzz"), F.substring("text", 4, 1000000)).alias("text"))
    corpus = base.unionByName(exact).unionByName(near)
    near_out = (dedup.near_duplicates_minhash(corpus, threshold=0.6,
                                              num_hashes=16, bands=8)
                .select(F.lit("near").alias("part"), "id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard")))
    bands_out = (dedup.lsh_candidates_md5(corpus, num_hashes=16, bands=4)
                 .select(F.lit("bands").alias("part"), "id_a", "id_b",
                         F.lit(-1.0).alias("jaccard")))
    return near_out.unionByName(bands_out)


def _q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed exact→near-dup pipeline on the planted-dup corpus: the
    oracle recomputes BOTH stages independently (md5 min-id groups, then
    full quadratic Jaccard over the survivors) — the engine's LSH shortcut
    must reproduce the exhaustive keep-list exactly."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 60).select("doc_id", "text")
    exact = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.lit("zzz"), F.substring("text", 4, 1000000)).alias("text"))
    corpus = base.unionByName(exact).unionByName(near)
    return dedup.dedup_pipeline(corpus, threshold=0.6,
                                num_hashes=16, bands=8)


def _q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure: V-shaped planted families (two mutually
    dissimilar perturbations of one base doc, base id LARGEST) where
    greedy keep-smallest would keep TWO docs per family — connected
    components (operators/graph.py, alternating star) keeps exactly the
    component-minimum. The oracle recomputes the exhaustive pair graph
    and closes it with a recursive CTE.

    Family for base doc x: {x: half-length-prefixed copy A,
    x+20000: differently-prefixed copy B, x+40000: the base}. Jaccard
    (copy, base) ≈ 2/3 ≥ 0.55 → edges (x, x+40000), (x+20000, x+40000);
    Jaccard(A, B) ≈ 1/2 < 0.55 → no edge. Component min = x."""
    base = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 40).select("doc_id", "text")
    nw = F.size(F.split(F.col("text"), " "))
    m = F.greatest(F.floor(nw / 2).cast("int"), F.lit(2))

    def prefixed(tag: str, id_shift: int) -> DataFrame:
        pref = F.array_join(
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.concat(F.lit(tag),
                                   F.col("doc_id").cast("string"),
                                   F.lit("x"), i.cast("string"))), " ")
        return base.select(
            (F.col("doc_id") + id_shift).alias("doc_id"),
            F.concat(pref, F.lit(" "), F.col("text")).alias("text"))

    corpus = (prefixed("qa", 0)
              .unionByName(prefixed("qb", 20000))
              .unionByName(base.select((F.col("doc_id") + 40000)
                                       .alias("doc_id"), "text")))
    return dedup.dedup_pipeline(corpus, threshold=0.55, num_hashes=16,
                                bands=16, clustering="cc")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.exact_duplicates(docs)


def _q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text features + (r6) Gopher-style repetition filters —
    dup_line/dup_token/top_bigram/dup_trigram fractions from the
    map-only Arrow kernel, replayed relationally by the oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text.with_repetition_features(text.with_text_features(docs)) \
        .select("doc_id", "n_tokens", "n_tokens_bpe", "n_stop",
                "avg_token_len", "quality", "fingerprint",
                "dup_line_frac", "dup_token_frac", "top_bigram_frac",
                "dup_trigram_frac")


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL THREE ANN tiers in one gate (driver 50-entry window), tagged
    by method: 'exact' = brute-force cosine baseline; 'lsh' =
    random-hyperplane LSH multiprobe (hyperplanes are plain float64
    constants, so the oracle recomputes bucket signs, the 37 multiprobe
    masks, the candidate join and the exact scoring verbatim — no recall
    assumption); 'ivf' = pivot-based inverted lists with nprobe probing
    (pivots are data rows, the assignment argmin is 6-dp-rounded with
    pivot-id ties, so both engines bucket identically); 'pq' (r6) =
    product-quantization ADC top-k over the 8-byte code table —
    integer-exact end to end (micro-unit quantization → pivot codebook →
    argmin encode → LUT scan, all int64 < 2^53), so the oracle replays
    it with NO rounding discipline; the 'cos' column carries the integer
    ADC distance as a double."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    dim = len(emb.select("embedding").first()[0])
    parts = [
        ("exact", similarity.cosine_topk_bruteforce(emb, queries, k=10)),
        ("lsh", similarity.cosine_topk_lsh(emb, queries, k=10, dim=dim)),
        ("ivf", similarity.cosine_topk_ivf(emb, queries, k=10,
                                           nlist=16, nprobe=4)),
    ]
    cb = similarity.pq_codebook_pivots(emb)
    pq = similarity.pq_adc_topk(similarity.pq_encode(emb, cb), queries,
                                cb, k=10) \
        .select("q_id", "vec_id",
                F.col("adist").cast("double").alias("cos"), "rnk")
    parts.append(("pq", pq))
    outs = [o.select(F.lit(tag).alias("method"), "q_id", "vec_id", "cos",
                     F.col("rnk").cast("long").alias("rnk"))
            for tag, o in parts]
    return (outs[0].unionByName(outs[1]).unionByName(outs[2])
            .unionByName(outs[3]))


def _q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard over a bounded doc set (the
    verification kernel of the near-dup tier, oracle-checkable in SQL —
    the LSH candidate stage itself is hash-seeded and pytest-verified)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 300).select("doc_id", "text")
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = (a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
             .repartition(16))
    out = dedup.jaccard_pairs(docs, pairs, shingle_side="docs")
    return (out.filter(F.col("jaccard") >= 0.03)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal tier, three parts (50-entry rotation; columns a..f):
    'session' = per-user sessions split at 30-min gaps (lag + running
    sum; a=session_idx, b=n_events, c=start, d=end); 'travel' (r6) =
    per-user trajectory stats over md5-free LCG-derived event positions
    (trajectory.travel_stats; a=n_points, b=dist_q, c=max_leg_q,
    d=disp_q — micro-unit int64, legs quantized BEFORE the sum so the
    aggregate is exactly associative); 'stay' (r6) = gaps-and-islands
    stay points (trajectory.stay_points; a=stay_idx, b=n_events,
    c=start, d=end, e/f=centroid numerators cx_q/cy_q)."""
    from mbrngq_spark.operators.trajectory import (stay_points,
                                                   travel_stats,
                                                   with_event_geometry)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    evt = ev.select("user_id", "event_id",
                    F.unix_timestamp("ts").alias("te"))
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    new_s = F.when(
        (F.col("te") - F.lag("te").over(w) > 1800)
        | F.lag("te").over(w).isNull(), 1).otherwise(0)
    sess_df = (evt.withColumn("new_s", new_s)
               .withColumn("session_idx",
                           F.sum("new_s").over(
                               w.rowsBetween(Window.unboundedPreceding, 0))))
    zero = F.lit(0).cast("long")
    sess = (sess_df.groupBy("user_id", "session_idx")
            .agg(F.count("*").alias("n_events"),
                 F.min("te").alias("start_epoch"),
                 F.max("te").alias("end_epoch"))
            .select(F.lit("session").alias("part"), "user_id",
                    F.col("session_idx").cast("long").alias("a"),
                    F.col("n_events").cast("long").alias("b"),
                    F.col("start_epoch").cast("long").alias("c"),
                    F.col("end_epoch").cast("long").alias("d"),
                    zero.alias("e"), zero.alias("f")))
    eg = with_event_geometry(ev)
    trav = travel_stats(eg).select(
        F.lit("travel").alias("part"), "user_id",
        F.col("n_points").cast("long").alias("a"),
        F.col("dist_q").alias("b"), F.col("max_leg_q").alias("c"),
        F.col("disp_q").alias("d"), zero.alias("e"), zero.alias("f"))
    stay = stay_points(eg, H.STAY_EPS, H.STAY_DUR).select(
        F.lit("stay").alias("part"), "user_id",
        F.col("stay_idx").cast("long").alias("a"),
        F.col("n_events").cast("long").alias("b"),
        F.col("start_epoch").cast("long").alias("c"),
        F.col("end_epoch").cast("long").alias("d"),
        F.col("cx_q").alias("e"), F.col("cy_q").alias("f"))
    # part 'contact' (r6): space-time co-location
    # (trajectory.colocation_contacts) — pairs of users within COLOC_EPS
    # AND COLOC_TAU seconds, via the (cell, te div tau)-keyed lossless
    # candidate join; per unordered pair: count, first/last epoch,
    # micro-quantized closest approach. user_id=ua, a=ub, b=n_contacts,
    # c=first_te, d=last_te, e=min_dist_q.
    from mbrngq_spark.operators.trajectory import colocation_contacts
    egc = with_event_geometry(ev.filter(F.col("event_id") < H.COLOC_N))
    contact = colocation_contacts(egc, H.COLOC_EPS, H.COLOC_TAU).select(
        F.lit("contact").alias("part"), F.col("ua").alias("user_id"),
        F.col("ub").alias("a"), F.col("n_contacts").alias("b"),
        F.col("first_te").alias("c"), F.col("last_te").alias("d"),
        F.col("min_dist_q").alias("e"), zero.alias("f"))
    # part 'overlap' (r6): interval-overlap join / session co-presence
    # (intervals.session_copresence) — sessions rebuilt at a 6 h gap,
    # pairs via the bucket-celled 1-D join with first-shared-bucket
    # dedup (no distinct); per unordered user pair: n_overlaps, total
    # overlapped seconds (exact int64), first/last co-presence.
    # user_id=ua, a=ub, b=n_overlaps, c=first_te, d=last_te,
    # e=total_overlap_s.
    from mbrngq_spark.operators.intervals import session_copresence
    new_cp = F.when(
        (F.col("te") - F.lag("te").over(w) > H.CP_GAP)
        | F.lag("te").over(w).isNull(), 1).otherwise(0)
    iv = (evt.withColumn("new_s", new_cp)
          .withColumn("sidx", F.sum("new_s").over(
              w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sidx")
          .agg(F.min("te").alias("t0"), F.max("te").alias("t1"))
          .select("user_id", F.col("sidx").alias("session_idx"),
                  "t0", "t1"))
    ovl = session_copresence(iv, width=H.CP_WIDTH).select(
        F.lit("overlap").alias("part"), F.col("ua").alias("user_id"),
        F.col("ub").alias("a"), F.col("n_overlaps").alias("b"),
        F.col("first_te").alias("c"), F.col("last_te").alias("d"),
        F.col("total_overlap_s").alias("e"), zero.alias("f"))
    # part 'od' (r6): origin-destination flow matrix
    # (trajectory.od_matrix) over the derived event positions at the
    # 8×8 Morton grid. user_id=cell_from, a=cell_to, b=n_trips,
    # c=n_users.
    from mbrngq_spark.operators.trajectory import od_matrix
    od = od_matrix(eg, H.OD_RES).select(
        F.lit("od").alias("part"), F.col("cell_from").alias("user_id"),
        F.col("cell_to").alias("a"), F.col("n_trips").alias("b"),
        F.col("n_users").alias("c"), zero.alias("d"), zero.alias("e"),
        zero.alias("f"))
    return (sess.unionByName(trav).unionByName(stay)
            .unionByName(contact).unionByName(ovl).unionByName(od))


def _q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distribution stats per event_type — integer-cent moments
    (sum/sum-of-squares as int64 → identical across engines; mean
    derived from them) AND exact interpolated quantiles in the SAME
    one-pass groupBy (Spark `percentile` and DuckDB `quantile_cont`
    share the linear-interpolation definition, so values match at
    6 dp). Former agg_quantiles gate folded in (driver 50-entry
    window)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    c = F.round(F.col("value") * 100).cast("long")
    pct = F.expr("percentile(value, array(0.25D, 0.5D, 0.9D, 0.99D))")
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(c).alias("sum_c"),
                 F.sum(c * c).alias("sumsq_c"),
                 F.min(c).alias("min_c"),
                 F.max(c).alias("max_c"),
                 F.round(pct[0], 6).alias("p25"),
                 F.round(pct[1], 6).alias("p50"),
                 F.round(pct[2], 6).alias("p90"),
                 F.round(pct[3], 6).alias("p99"))
            .withColumn("mean_c",
                        F.round(F.col("sum_c").cast("double") / F.col("n"), 6)))


def _q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (trigram profiles, vectorized pandas UDF).
    The oracle recomputes the scorer relationally (length-replace
    occurrence counts per profile trigram, argmax with first-max ties) —
    generated from the same _PROFILES constants, so the UDF is
    value-checked, not rows-only."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id",
                       text.lang_id_udf()(F.col("text")).alias("lang_pred"))


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs on a corpus with planted exact
    duplicate vectors (vec_id+50000). LSH bucketing finds identical vectors
    with probability 1 (same bucket by construction); at threshold 0.999
    the surviving pairs are exactly the planted ones, which the oracle
    reproduces with a plain cosine cross join."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") < 8)         .select((F.col("vec_id") + 50000).alias("vec_id"), "embedding", "label")
    corpus = emb.unionByName(dup)
    dim = len(emb.select("embedding").first()[0])
    out = similarity.embedding_near_dups(corpus, threshold=0.999, dim=dim)
    return out.select("id_a", "id_b", "cos")


def _q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup, BOTH faces in one gate (driver 50-entry window):

    part 'h0' — the production xxhash64 sketch at hamming distance 0 on
    a corpus with planted exact text duplicates (doc_id+30000): identical
    texts → identical 64-bit sketches, and 64 bits of sign-sum make
    accidental full-sketch collisions of different random texts
    vanishingly unlikely — so the oracle is the same-text pair set (md5
    equality).

    part 'md5' — the sketch+banding math at NONZERO hamming: the md5
    hash family (simhash_md5_col) is bit-reproducible in DuckDB, so the
    oracle rebuilds every 60-bit sketch from md5 hex nibbles (sign of
    Σ±1 per bit), replays the shared-16-bit-chunk candidate rule, and
    verifies hamming — value-checking the sketch math itself, which the
    'h0' part (identical-text multiset) can only see at hamming 0."""
    base80 = spark.read.parquet(f"{sf_dir}/documents.parquet")         .filter(F.col("doc_id") < 80).select("doc_id", "text")
    dup = base80.select((F.col("doc_id") + 30000).alias("doc_id"), "text")
    h0 = (dedup.simhash_near_dups(base80.unionByName(dup), max_hamming=0)
          .select(F.lit("h0").alias("part"), "id_a", "id_b",
                  F.col("hamming").cast("long").alias("hamming")))

    base60 = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 60).select("doc_id", "text")
    exact = base60.select((F.col("doc_id") + 30000).alias("doc_id"), "text")
    near = base60.select(
        (F.col("doc_id") + 40000).alias("doc_id"),
        F.concat(F.lit("zzz"), F.substring("text", 4, 1000000)).alias("text"))
    md5p = (dedup.simhash_near_dups_md5(
                base60.unionByName(exact).unionByName(near), max_hamming=6)
            .select(F.lit("md5").alias("part"), "id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming")))
    return h0.unionByName(md5p)


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline, VALUE-checked end to end: refs → synthesized
    REAL payloads (24-bit BMP / PCM WAV / uncompressed-DIB AVI, dims and
    durations derived from media_ref via md5-hex arithmetic) →
    Arrow-batched decode/featurize (mapInPandas, pure-NumPy codecs). The
    emitted width/height/duration come from the DECODED features — i.e.
    they exist only because encoder and decoder round-trip — while the
    DuckDB oracle recomputes the same values from the md5 meta formulas
    (media_meta_col), giving the binary pipeline a full rows+schema+hash
    oracle."""
    from mbrngq_spark.operators import multimodal as mm
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 300)
    refs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"))
        .alias("kind"),
        F.concat(F.lit("ref://"), F.col("doc_id").cast("string"))
        .alias("media_ref"))
    feats = mm.extract_features(mm.synthesize_media(refs))

    def fi(i: int):
        return F.element_at(F.col("features"), i + 1)

    is_vis = F.col("kind").isin("image", "video")
    return feats.select(
        "doc_id", "media_ref", "kind",
        F.when(is_vis, fi(0)).otherwise(F.lit(0.0))
        .cast("long").alias("width_px"),
        F.when(is_vis, fi(1)).otherwise(F.lit(0.0))
        .cast("long").alias("height_px"),
        F.when(F.col("kind") == "audio", fi(5))
        .when(F.col("kind") == "video", fi(3))
        .otherwise(F.lit(0.0)).cast("long").alias("duration_ms"),
        F.size("features").cast("long").alias("n_features"))


def _q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval tier: BM25 top-10 per query over the documents
    table (queries = the first-5-token prefixes of docs 0..3). Scores
    round idf and the final sum to 6 dp so both engines rank
    identically; ties break by doc_id."""
    from mbrngq_spark.operators.search import bm25_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    q = docs.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 5), " ")
        .alias("q_text"))
    return bm25_topk(docs, q, k=10)


GEO_QUERIES = [
    (0, 0.0, 0.0),          # equator
    (1, 89.0, 10.0),        # near the pole
    (2, -45.0, -179.95),    # hugging the antimeridian
    (3, 30.0, 100.0),
    (4, -89.5, 0.0),        # deep south
]

# spherical polygons for the spatial_pip 'geo'/'geo_dist' parts:
# 10 = antimeridian-crossing quad, 11 = plain triangle, 12 = concave
# arrow with a HORIZONTAL edge (try_divide / oracle-edge-skip stress)
GEO_POLYS = [
    (10, [-20.0, -20.0, 25.0, 25.0], [170.0, -170.0, -165.0, 172.0]),
    (11, [10.0, 40.0, 25.0], [-30.0, -20.0, 5.0]),
    (12, [-50.0, -50.0, -30.0, -45.0, -25.0],
     [40.0, 80.0, 60.0, 55.0, 45.0]),
]

# geodetic route fixtures (line_id, vlat, vlon) — line 21 crosses the
# antimeridian; segments ≤ ~35° central angle, |lat| ≤ 88 (the corridor
# join's bulge-pad contract)
GEO_LINES = [
    (20, [-10.0, 0.0, 15.0], [100.0, 130.0, 160.0]),
    (21, [10.0, 20.0, 25.0], [170.0, -175.0, -160.0]),
    (22, [-40.0, -35.0], [-60.0, -20.0]),
]
GEO_LINE_RADIUS_M = 1_200_000.0
GEO_DBSCAN_EPS_M = 900_000.0
GEO_DBSCAN_MINPTS = 4


def _geo_pip_pred_sql(vlat: list, vlon: list) -> str:
    """DuckDB predicate twin of the wrap-normalized PNPOLY fold, with
    the polygon's vertices UNROLLED as double literals (the polygons
    are gate fixtures, known at SQL-generation time). Vertex
    normalization happens here in Python — the same expression the
    driver path evaluates, and pmod≡fmod≡Python-% for the positive
    operands the +540 shift guarantees. Horizontal edges are skipped at
    generation time (crosses is identically false for them — the SQL
    analog of the try_divide guard). Association order of xcut matches
    the Column fold exactly: (xj−xi) * ((lat−yi)/(yj−yi)) + xi."""
    anchor = float(vlon[0])
    nv = [((v - anchor + 540.0) % 360.0) - 180.0 for v in vlon]
    nlon = f"(fmod(lon - ({anchor!r}) + 540.0, 360.0) - 180.0)"
    terms = []
    n = len(vlat)
    for i in range(n):
        j = (i - 1) % n
        yi, yj = float(vlat[i]), float(vlat[j])
        xi, xj = nv[i], nv[j]
        if yi == yj:
            continue
        terms.append(
            f"CASE WHEN (({yi!r} > lat) <> ({yj!r} > lat)) AND {nlon} < "
            f"({xj!r} - {xi!r}) * ((lat - {yi!r}) / ({yj!r} - {yi!r})) "
            f"+ {xi!r} THEN 1 ELSE 0 END")
    return "(" + " + ".join(terms) + ") % 2 = 1"


def _q_corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval set = 10-token spans lifted from
    docs 0..9 (eval ids 9000+); every doc sharing a 6-gram with the eval
    set is flagged with its hit count and matched eval ids. The eval
    side is broadcast (dedup.contamination_check) — the corpus is never
    shuffled on raw text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 3, 10), " ")
        .alias("text"))
    return dedup.contamination_check(docs, eval_set)


def _q_geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle (haversine) kNN on a lat/lon mapping of the corpus —
    the spherical tier of the spatial engine (operators/geodetic.py).
    The ENGINE runs the cell-pruned two-phase path (counts-only SAT box
    + exact analytic rect min/max great-circle bounds); the ORACLE is
    the exhaustive haversine scan — the gate passes only if the pruning
    is lossless, including the pole and antimeridian queries."""
    import pandas as pd

    from mbrngq_spark.operators.geodetic import geodetic_knn
    docs_geo = H.load_docs_geo(spark, sf_dir)
    docs_ll = docs_geo.select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    queries = pd.DataFrame(GEO_QUERIES,
                           columns=["query_id", "qlat", "qlon"])
    return geodetic_knn(spark, docs_ll, queries, k=10, res=5)


def _q_geo_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle radius query (spherical range): all docs within
    500 km of each geo query point, cell-pruned with the same exact
    rect bounds; oracle = exhaustive haversine WHERE filter."""
    import pandas as pd

    from mbrngq_spark.operators.geodetic import geodetic_range
    docs_geo = H.load_docs_geo(spark, sf_dir)
    docs_ll = docs_geo.select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    queries = pd.DataFrame(GEO_QUERIES,
                           columns=["query_id", "qlat", "qlon"])
    return geodetic_range(spark, docs_ll, queries, 500_000.0, res=5)


def _q_geo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle ε-self-join (800 km) on the lat/lon corpus mapping —
    cell-PAIR candidate table from the exact bounds matrix (pole/wrap
    safe; the planar 3×3 neighborhood is wrong on a lat/lon grid), each
    unordered pair exactly once. Oracle: exhaustive quadratic
    haversine."""
    from mbrngq_spark.operators.geodetic import (geodetic_pairs,
                                                 geodetic_polyline_join)
    docs_geo = H.load_docs_geo(spark, sf_dir)
    docs_ll = docs_geo.filter(F.col("doc_id") < 250).select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    pairs = geodetic_pairs(spark, docs_ll, 800_000.0, res=4).select(
        F.lit("pairs").alias("part"), "a_id", "b_id", "dist_m")
    # part 'corridor' (r6): spherical polyline corridor join over the
    # FULL lat/lon corpus — exact min great-circle point-to-arc distance
    # (3-D cross-track with within-arc test), antimeridian route incl.
    import pandas as pd
    full_ll = docs_geo.select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [l[0] for l in GEO_LINES],
                      "vlat": [l[1] for l in GEO_LINES],
                      "vlon": [l[2] for l in GEO_LINES]}),
        "line_id long, vlat array<double>, vlon array<double>")
    corr = geodetic_polyline_join(
        full_ll, lines_df, GEO_LINE_RADIUS_M).select(
        F.lit("corridor").alias("part"),
        F.col("line_id").cast("long").alias("a_id"),
        F.col("doc_id").cast("long").alias("b_id"), "dist_m")
    # part 'cluster' (r6): spherical DBSCAN over the full lat/lon corpus
    # (clustering.dbscan_geodetic — geodetic_pairs neighborhoods + the
    # planar tier's star-CC algebra); a_id=doc, b_id=min-core-id label,
    # dist_m = 1.0 core / 0.0 border
    from mbrngq_spark.operators.clustering import dbscan_geodetic
    clus = dbscan_geodetic(spark, full_ll, GEO_DBSCAN_EPS_M,
                           GEO_DBSCAN_MINPTS).select(
        F.lit("cluster").alias("part"),
        F.col("doc_id").cast("long").alias("a_id"),
        F.col("cluster").cast("long").alias("b_id"),
        F.when(F.col("is_core"), 1.0).otherwise(0.0).alias("dist_m"))
    # part 'contact' (r6): spherical co-location
    # (trajectory.colocation_pairs_geodetic) — cross-user event pairs
    # within GEO_COLOC_EPS_M great-circle meters AND COLOC_TAU seconds
    # over the lat/lon event mapping; dist 2dp meters (the geodetic
    # rounding discipline)
    from mbrngq_spark.operators.trajectory import (
        colocation_pairs_geodetic, with_event_geometry)
    evc = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < H.COLOC_N)
    ell = with_event_geometry(evc).select(
        "user_id", "event_id", "te",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    geoc = colocation_pairs_geodetic(spark, ell, H.GEO_COLOC_EPS_M,
                                     H.COLOC_TAU).select(
        F.lit("contact").alias("part"),
        F.col("a_event").alias("a_id"), F.col("b_event").alias("b_id"),
        F.round("dist_m", 2).alias("dist_m"))
    # parts 'frechet'/'dtw'/'hausdorff' (r6): the trajectory-similarity
    # family ON THE SPHERE — same derived tracks mapped to lat/lon,
    # haversine centimeter matrix quantized JVM-side, int64 DP kernels
    # (geodetic=True variants of the planar family).
    from mbrngq_spark.functions import derive as _dv2
    from mbrngq_spark.operators.trajectory import (dtw_join, frechet_join,
                                                   hausdorff_join)
    _gsv = F.sequence(F.lit(0), F.lit(H.SIMPLIFY_V - 1))
    gtr = (spark.read.parquet(f"{sf_dir}/documents.parquet")
           .filter(F.col("doc_id") < H.GEO_FRECHET_N)
           .select(F.col("doc_id").alias("line_id"))
           .select("line_id",
                   F.transform(_gsv, lambda i: _dv2.y_col(
                       F.col("line_id") * 31 + i * 7 + 1)
                       * 1.8 - 90.0).alias("vlat"),
                   F.transform(_gsv, lambda i: _dv2.x_col(
                       F.col("line_id") * 31 + i * 7 + 1)
                       * 3.6 - 180.0).alias("vlon")))
    gfr = (frechet_join(gtr, gtr, quant=100.0, geodetic=True,
                        self_join=True)
           .select(F.lit("frechet").alias("part"), "a_id", "b_id",
                   F.col("dfq").cast("double").alias("dist_m")))
    gdt = (dtw_join(gtr, gtr, quant=100.0, geodetic=True,
                    self_join=True)
           .select(F.lit("dtw").alias("part"), "a_id", "b_id",
                   F.col("dtwq").cast("double").alias("dist_m")))
    ghz = (hausdorff_join(gtr, gtr, quant=100.0, geodetic=True,
                          self_join=True)
           .select(F.lit("hausdorff").alias("part"), "a_id", "b_id",
                   F.col("dhq").cast("double").alias("dist_m")))
    return (pairs.unionByName(corr).unionByName(clus)
            .unionByName(geoc).unionByName(gfr).unionByName(gdt)
            .unionByName(ghz))


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT coverage: per-user event counts widened over the explicit
    type list (explicit values keep the plan single-pass — no
    distinct-scan — and the schema deterministic)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return out.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in EVENT_TYPES])


def _q_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-table (Iceberg-semantics) layer, VALUE-checked end to
    end: create from documents → append a derived batch → copy-on-write
    DELETE → read the live snapshot. The oracle recomputes the expected
    surviving rows relationally, so a torn write, a CoW rewrite bug, or
    a manifest mixup changes the hash. Uses a run-scoped temp dir (the
    gate is re-runnable)."""
    import atexit
    import shutil
    import tempfile

    from mbrngq_spark.plans.snapshots import SnapshotTable

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    # cleanup at interpreter exit, NOT before returning: the result is a
    # lazy read over the snapshot files, so the gate stays free of driver
    # row collects (r4 verdict nit) while remaining re-runnable
    tmp = tempfile.mkdtemp(prefix="snap_gate_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    t = SnapshotTable(spark, f"{tmp}/tbl")
    t.create(docs.filter(F.col("doc_id") < 400))
    t.append(docs.filter(F.col("doc_id") >= 400)
             .withColumn("text", F.concat(F.lit("v2 "), F.col("text"))))
    t.delete_where(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    return t.read().select("doc_id", F.md5("text").alias("text_md5"))


def _q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional rollup (CUBE) over lineitem: all four grouping
    combinations of (returnflag, linestatus) in one pass with
    grouping_id — the OLAP-tier aggregation shape next to the existing
    hierarchical tile/cell rollups."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("l_quantity").cast("double")).alias("sum_qty"),
                 F.grouping_id().cast("long").alias("gid"))
            .select(F.coalesce("l_returnflag", F.lit("ALL"))
                    .alias("returnflag"),
                    F.coalesce("l_linestatus", F.lit("ALL"))
                    .alias("linestatus"),
                    "n", F.round("sum_qty", 2).alias("sum_qty"), "gid"))


def _q_spans_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's per-row invariant, driver-checked: span-sequence
    equality (kind, text, media_ref, order) THROUGH every shuffle. An
    interleaved spans array (derived from md5 arithmetic so DuckDB can
    rebuild the expected sequence independently) rides through a hash
    repartition, a window, and a join, then is flattened with posexplode
    — any reorder, drop, truncation or field splice breaks the value
    hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    nspans = (F.lit(1)
              + F.pmod(F.ascii(F.substring(F.md5(F.concat(did, F.lit("/n"))),
                                           1, 1)), F.lit(4)))

    def span(i):
        seed = F.ascii(F.substring(
            F.md5(F.concat(did, F.lit("/s"), i.cast("string"))), 1, 1))
        kind = F.element_at(
            F.array(F.lit("text"), F.lit("image"),
                    F.lit("audio"), F.lit("video")),
            (F.pmod(seed, F.lit(4)) + 1).cast("int"))
        is_text = kind == "text"
        return F.struct(
            kind.alias("kind"),
            F.when(is_text, F.substring(
                F.col("text"), (F.pmod(i * 7, F.lit(40)) + 1).cast("int"),
                25)).otherwise(F.lit("")).alias("text"),
            F.when(~is_text, F.concat(F.lit("ref://"), did, F.lit("/"),
                                      i.cast("string")))
            .otherwise(F.lit("")).alias("media_ref"),
            i.cast("int").alias("offset"))

    t = docs.withColumn(
        "spans", F.transform(F.sequence(F.lit(0), nspans - 1), span))
    # the gauntlet: hash repartition, a window over a different key, a join
    cat = F.pmod(F.col("doc_id"), F.lit(7))
    t = (t.withColumn("cat", cat)
         .repartition(8, "cat")
         .withColumn("rn", F.row_number().over(
             Window.partitionBy("cat").orderBy(F.col("doc_id").desc())))
         .join(docs.select("doc_id",
                           F.length("text").alias("tl")), "doc_id"))
    return (t.select("doc_id", "rn", "tl",
                     F.posexplode("spans").alias("span_idx", "s"))
            .select("doc_id", "rn", "tl",
                    F.col("span_idx").cast("long").alias("span_idx"),
                    F.col("s.kind").alias("kind"),
                    F.md5(F.col("s.text")).alias("text_md5"),
                    F.col("s.media_ref").alias("media_ref"),
                    F.col("s.offset").cast("long").alias("span_offset")))


def _q_corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunking + sequence packing, value-checked to the token: sliding
    64-token windows (overlap 8) over every document, packed into
    256-token training sequences by the deterministic global prefix sum.
    chunk_md5 verifies the exact window text; seq_id/seq_offset verify
    the packing arithmetic (the oracle recomputes the prefix sum with a
    window over the same (doc_id, chunk_idx) order)."""
    from mbrngq_spark.operators.chunking import chunk_documents, \
        pack_sequences
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    packed = pack_sequences(chunk_documents(docs, 64, 8), budget=256)
    return packed.select(
        "doc_id", "chunk_idx", "tok_start", "tok_len",
        F.md5("chunk_text").alias("chunk_md5"), "seq_id", "seq_offset")


def _q_media_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED video pipeline, value-checked: refs → MJPEG AVIs (one
    baseline JPEG per frame via the from-scratch pure-NumPy T.81 codec,
    4:2:0) → decode/featurize. The emitted dims / frame count / duration
    exist only because the JPEG entropy coder, DCT and container layers
    all round-trip; the oracle recomputes them from the md5 meta
    formulas."""
    from mbrngq_spark.operators import multimodal as mm
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 60)
    refs = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit("video").alias("kind"),
        F.concat(F.lit("ref://mj"), F.col("doc_id").cast("string"))
        .alias("media_ref"))
    feats = mm.extract_features(mm.synthesize_media(refs,
                                                    video_codec="MJPG"))

    def fi(i: int):
        return F.element_at(F.col("features"), i + 1)

    return feats.select(
        "doc_id", "media_ref",
        fi(0).cast("long").alias("width_px"),
        fi(1).cast("long").alias("height_px"),
        fi(2).cast("long").alias("n_frames"),
        fi(3).cast("long").alias("duration_ms"))


def _q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate (scan→filter→groupBy·agg coverage,
    SURVEY.md §2.5). Money in integer cents so sums are order-independent
    and cross-engine exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(cents("l_quantity")).alias("sum_qty_c"),
                 F.sum(cents("l_extendedprice")).alias("sum_price_c"),
                 F.count("*").alias("n_rows")))


def _q_join_orders_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join chain orders⋈customer⋈nation (join coverage)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("total_c")))


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT coverage: customers with vs without orders,
    tagged in one result set (distinct set semantics both engines)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .select(F.col("c_custkey").alias("k"))
    okeys = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select(F.col("o_custkey").alias("k"))
    return (cust.intersect(okeys).select(F.lit("with").alias("tag"), "k")
            .unionByName(cust.exceptAll(okeys).distinct()
                         .select(F.lit("without").alias("tag"), "k")))


def _q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join coverage with real nulls on BOTH sides: order
    counts per priority vs a priority dim holding only part of the real
    domain plus a phantom row."""
    import pandas as pd

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    agg = orders.groupBy("o_orderpriority") \
        .agg(F.count("*").alias("n_orders"))
    dim = spark.createDataFrame(pd.DataFrame({
        "o_orderpriority": ["1-URGENT", "2-HIGH", "9-PHANTOM"],
        "sla_hours": [24, 48, 1]}))
    return (agg.join(dim, "o_orderpriority", "full_outer")
            .select(F.coalesce("o_orderpriority", F.lit("?"))
                    .alias("priority"),
                    F.coalesce("n_orders", F.lit(0)).cast("long")
                    .alias("n_orders"),
                    F.coalesce("sla_hours", F.lit(-1)).cast("long")
                    .alias("sla_hours")))


def _q_sql_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops + FULL OUTER join as one part-tagged union (r6 rotation:
    two single-category SQL gates merged to free a driver slot for
    text_quality_clf while keeping both oracle-checked)."""
    sets = _q_set_ops(spark, sf_dir).select(
        F.lit("sets").alias("part"), F.col("tag").alias("key"),
        F.col("k").cast("long").alias("a"),
        F.lit(-1).cast("long").alias("b"))
    outer = _q_join_outer(spark, sf_dir).select(
        F.lit("outer").alias("part"), F.col("priority").alias("key"),
        F.col("n_orders").alias("a"), F.col("sla_hours").alias("b"))
    return sets.unionByName(outer)


def _q_text_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier (r5 verdict item 5): distributed
    logistic regression over the text-feature columns on the md5-derived
    labeled seed fixture — per-row int64-quantized gradient contributions
    summed exactly (order-independent), so the learned weights equal
    quality.train_quality_reference's bit-for-bit (the oracle's weight
    source). part 'weight' = the coefficients (6dp); part 'score' =
    sigmoid(w·x) over the real documents table with the learned weights
    (map-only scoring — at 100 TB this is a pure-codegen projection)."""
    import pandas as pd

    from mbrngq_spark.operators import quality as Q

    corpus = spark.createDataFrame(
        pd.DataFrame({"text": Q.quality_fixture()}))
    w = Q.train_quality_classifier(corpus)
    wrows = spark.createDataFrame(
        pd.DataFrame([(j, round(wj, 6)) for j, wj in enumerate(w)],
                     columns=["id", "value"]),
        "id long, value double") \
        .select(F.lit("weight").alias("part"), "id", "value")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scores = Q.score_quality(docs, w).select(
        F.lit("score").alias("part"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("quality_score").alias("value"))
    # part 'ppl' (r6): the OTHER standard quality signal — mean token
    # log-prob under a smoothed unigram LM trained on the corpus itself
    # (text.train_unigram_lm/with_perplexity); logp micro-nat quantized
    # so per-doc sums are int64-exact, the oracle retrains + rescores
    ppl_lm, ppl_oov = text.train_unigram_lm(docs)
    ppl = text.with_perplexity(docs, ppl_lm, ppl_oov).select(
        F.lit("ppl").alias("part"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("avg_logp").alias("value"))
    return wrows.unionByName(scores).unionByName(ppl)


def _q_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL cardinality sketch (r6, engine-new): distinct-count
    register sketches whose state is bit-identical across Spark / DuckDB
    / Python (md5 register + leading-zero rank, int64-exact harmonic
    sum — operators/sketch.py). Parts: 'reg' = the full register state
    per event_type (the mergeable artifact a lineage/metrics row would
    carry); 'est_users' = distinct user_id per event_type (small-range
    linear-counting branch); 'est_parts' = distinct l_partkey per
    l_returnflag (raw-estimator branch); 'merged' = the global user
    estimate computed by MERGING the per-type sketches register-wise —
    the oracle recomputes it DIRECTLY from the raw rows, so the hash
    match proves merge(sketch per part) == sketch(whole), the property
    that lets 10^12-doc metrics roll up without re-reading data."""
    from mbrngq_spark.operators import sketch as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    by_type = SK.hll_sketch(ev, ["event_type"], "user_id")
    reg = by_type.select(
        F.lit("reg").alias("part"), F.col("event_type").alias("key"),
        F.col("register").alias("id"), F.col("rho").alias("a"),
        F.lit(-1.0).alias("value"))
    est_u = SK.hll_estimate(by_type, ["event_type"]).select(
        F.lit("est_users").alias("part"), F.col("event_type").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_registers").alias("a"), F.col("estimate").alias("value"))
    est_p = SK.hll_estimate(
        SK.hll_sketch(li, ["l_returnflag"], "l_partkey"),
        ["l_returnflag"]).select(
        F.lit("est_parts").alias("part"), F.col("l_returnflag").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_registers").alias("a"), F.col("estimate").alias("value"))
    merged = SK.hll_estimate(
        SK.hll_merge([by_type.withColumn("event_type", F.lit("all"))],
                     ["event_type"]),
        ["event_type"]).select(
        F.lit("merged").alias("part"), F.col("event_type").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_registers").alias("a"), F.col("estimate").alias("value"))
    # count-min parts (r6): 'cm_reg' = the exact counter state per
    # event_type over user_id (mergeable-by-SUM artifact); 'cm_est' =
    # point-queries for user_ids 0..11 per event_type (min over the D
    # hashed cells — the overestimate-only bound); 'cm_merged' = global
    # counters computed by MERGING the per-type sketches, while the
    # oracle recomputes them DIRECTLY from raw rows (merge == direct,
    # counter-exact because CMS merge is integer addition).
    cm_by_type = SK.cm_sketch(ev, ["event_type"], "user_id")
    cm_reg = cm_by_type.select(
        F.lit("cm_reg").alias("part"), F.col("event_type").alias("key"),
        (F.col("row") * SK.CM_W + F.col("col")).alias("id"),
        F.col("cnt").alias("a"), F.lit(-1.0).alias("value"))
    probes = (ev.select("event_type").distinct()
              .crossJoin(spark.range(12).select(
                  F.col("id").alias("user_id"))))
    cm_est = SK.cm_query(cm_by_type, probes, ["event_type"],
                         "user_id").select(
        F.lit("cm_est").alias("part"), F.col("event_type").alias("key"),
        F.col("user_id").alias("id"), F.col("est").alias("a"),
        F.lit(-1.0).alias("value"))
    cm_merged = SK.cm_merge(
        [cm_by_type.withColumn("event_type", F.lit("all"))],
        ["event_type"]).select(
        F.lit("cm_merged").alias("part"), F.col("event_type").alias("key"),
        (F.col("row") * SK.CM_W + F.col("col")).alias("id"),
        F.col("cnt").alias("a"), F.lit(-1.0).alias("value"))
    # Bloom parts (r6): 'bf_reg' = the word/bitmap state per event_type
    # over user_id; 'bf_member' = the K-position membership decision for
    # user_ids 0..11 (false positives included — they must MATCH the
    # oracle's, proving the bit arithmetic, not just the semantics);
    # 'bf_merged' = OR-merged global bitmap vs the oracle's direct build.
    bf_by_type = SK.bf_build(ev, ["event_type"], "user_id")
    bf_reg = bf_by_type.select(
        F.lit("bf_reg").alias("part"), F.col("event_type").alias("key"),
        F.col("word").alias("id"), F.col("bits").alias("a"),
        F.lit(-1.0).alias("value"))
    bf_member = SK.bf_might_contain(bf_by_type, probes, ["event_type"],
                                    "user_id").select(
        F.lit("bf_member").alias("part"), F.col("event_type").alias("key"),
        F.col("user_id").alias("id"), F.col("member").alias("a"),
        F.lit(-1.0).alias("value"))
    bf_merged = SK.bf_merge(
        [bf_by_type.withColumn("event_type", F.lit("all"))],
        ["event_type"]).select(
        F.lit("bf_merged").alias("part"), F.col("event_type").alias("key"),
        F.col("word").alias("id"), F.col("bits").alias("a"),
        F.lit(-1.0).alias("value"))
    # histogram-quantile parts (r6): 'qh_reg' = the fixed-grid histogram
    # state per event_type over value (declared domain [0, 500), 256
    # bins); 'qh_est' = interpolated quantiles (id = q·100) whose float
    # path is replayed op-for-op in DuckDB; 'qh_merged' = global
    # histogram built by MERGING per-type states vs the oracle's direct
    # build (sum-merge == direct).
    QH_QS = [0.25, 0.5, 0.9, 0.99]
    qh_by_type = SK.qh_sketch(ev, ["event_type"], "value", 0.0, 500.0)
    qh_reg = qh_by_type.select(
        F.lit("qh_reg").alias("part"), F.col("event_type").alias("key"),
        F.col("bin").alias("id"), F.col("cnt").alias("a"),
        F.lit(-1.0).alias("value"))
    qh_est = SK.qh_quantiles(qh_by_type, ["event_type"], QH_QS,
                             0.0, 500.0).select(
        F.lit("qh_est").alias("part"), F.col("event_type").alias("key"),
        F.round(F.col("q") * 100).cast("long").alias("id"),
        F.lit(-1).cast("long").alias("a"), F.col("est").alias("value"))
    qh_merged = SK.qh_merge(
        [qh_by_type.withColumn("event_type", F.lit("all"))],
        ["event_type"]).select(
        F.lit("qh_merged").alias("part"), F.col("event_type").alias("key"),
        F.col("bin").alias("id"), F.col("cnt").alias("a"),
        F.lit(-1.0).alias("value"))
    # KMV/theta parts (r6): the SET-ALGEBRA sketch HLL can't be.
    # 'kmv_reg' = the bottom-64 distinct-hash sample per event_type over
    # user_id (the mergeable artifact); 'kmv_est' = per-type distinct
    # estimate (full-sketch estimator branch: 150 users > K=64);
    # 'kmv_small' = distinct l_linenumber per l_returnflag (n < K → the
    # exact branch); 'kmv_merged' = global estimate from MERGING per-type
    # samples while the oracle recomputes DIRECTLY from raw rows (bottom-k
    # merge == bottom-k of the whole — exact mergeability); 'kmv_inter' =
    # theta-sketch |A ∩ B| estimates for ALL unordered event-type pairs —
    # the operation with no HLL analog.
    kmv_by_type = SK.kmv_sketch(ev, ["event_type"], "user_id")
    kmv_reg = kmv_by_type.select(
        F.lit("kmv_reg").alias("part"), F.col("event_type").alias("key"),
        F.col("rk").alias("id"), F.col("h").alias("a"),
        F.lit(-1.0).alias("value"))
    kmv_est = SK.kmv_estimate(kmv_by_type, ["event_type"]).select(
        F.lit("kmv_est").alias("part"), F.col("event_type").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_sample").alias("a"), F.col("estimate").alias("value"))
    kmv_small = SK.kmv_estimate(
        SK.kmv_sketch(li, ["l_returnflag"], "l_linenumber"),
        ["l_returnflag"]).select(
        F.lit("kmv_small").alias("part"), F.col("l_returnflag").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_sample").alias("a"), F.col("estimate").alias("value"))
    kmv_merged = SK.kmv_estimate(
        SK.kmv_merge([kmv_by_type.withColumn("event_type", F.lit("all"))],
                     ["event_type"]),
        ["event_type"]).select(
        F.lit("kmv_merged").alias("part"), F.col("event_type").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_sample").alias("a"), F.col("estimate").alias("value"))
    kmv_inter = SK.kmv_intersect_pairs(kmv_by_type, "event_type").select(
        F.lit("kmv_inter").alias("part"),
        F.concat_ws("|", "key_a", "key_b").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_common").alias("a"), F.col("estimate").alias("value"))
    # 'kmv_jaccard' = per-pair overlap fraction est_inter/est_union (the
    # shard-overlap question answered from sketches alone; the union
    # re-rank is a kmv_merge of the pair, so this also exercises merge
    # inside the estimator chain)
    kmv_jac = SK.kmv_pair_stats(kmv_by_type, "event_type").select(
        F.lit("kmv_jaccard").alias("part"),
        F.concat_ws("|", "key_a", "key_b").alias("key"),
        F.lit(-1).cast("long").alias("id"),
        F.col("n_common").alias("a"), F.col("jaccard").alias("value"))
    return (reg.unionByName(est_u).unionByName(est_p).unionByName(merged)
            .unionByName(cm_reg).unionByName(cm_est)
            .unionByName(cm_merged).unionByName(bf_reg)
            .unionByName(bf_member).unionByName(bf_merged)
            .unionByName(qh_reg).unionByName(qh_est)
            .unionByName(qh_merged).unionByName(kmv_reg)
            .unionByName(kmv_est).unionByName(kmv_small)
            .unionByName(kmv_merged).unionByName(kmv_inter)
            .unionByName(kmv_jac))


def _q_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH calendar rollups in one gate (driver 50-entry window):
    part 'month' = per-month order counts + value over orders (month as
    'yyyy-MM' STRING — engines normalize DATE/TIMESTAMP differently
    through the value-hash harness); part 'hour' = tumbling-hour event
    rollup (the batch analog of the streaming agg), bucket = the hour
    epoch as a string so the two granularities share a schema."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    monthly = (orders
               .groupBy(F.substring(F.col("o_orderdate").cast("string"),
                                    1, 7).alias("bucket"))
               .agg(F.count("*").alias("n"),
                    F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                    .alias("total_c"))
               .select(F.lit("month").alias("part"), "bucket",
                       F.lit("").alias("key"), "n", "total_c"))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hourly = (ev.groupBy(F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                         .alias("hour_epoch"), F.col("event_type"))
              .agg(F.count("*").alias("n"),
                   F.sum(F.round(F.col("value") * 100).cast("long"))
                   .alias("total_c"))
              .select(F.lit("hour").alias("part"),
                      F.col("hour_epoch").cast("string").alias("bucket"),
                      F.col("event_type").alias("key"), "n", "total_c"))
    return monthly.unionByName(hourly)


def _q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank: top-3 orders by totalprice per customer."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                F.col("o_orderkey").asc())
    return (orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", F.col("rn").cast("long").alias("rn")))


def _q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling (training-mix weights):
    hash-based keep decision, map-only, reproducible across partition
    layouts/retries — the oracle recomputes the exact kept set from the
    same md5 formula."""
    from mbrngq_spark.operators.sampling import stratified_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(docs, {"src0": 0.0, "src1": 0.25, "src2": 0.5})
    return out.select("doc_id", "source")


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (asof.asof_join): every click matched to the user's most
    recent prior view — union + ONE keyed window, shuffle volume |l|+|r|
    (a range join would be quadratic per key). Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    from mbrngq_spark.operators.asof import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts",
                     F.col("event_id").alias("view_id"), "value"))
    out = asof_join(clicks, views, on="user_id", tiebreak="view_id")
    return out.select(
        "click_id", "user_id", F.col("view_id_r").alias("view_id"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("ts_r").cast("timestamp"))).alias("lag_us"),
        F.round(F.col("value_r") * 100).cast("long").alias("value_c"))


def _q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection counts over a corpus with PLANTED pii (emails / intl
    phones / IPv4) — the patterns live in the ASCII subset where Java
    regex and RE2 agree, so DuckDB recounts them with
    regexp_extract_all."""
    from mbrngq_spark.operators.text import with_pii_counts
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.pmod(did, 3) == 0,
                   F.concat(F.lit(" contact doc"), did.cast("string"),
                            F.lit("@example.com now")))
            .otherwise(F.lit("")),
            F.when(F.pmod(did, 5) == 0,
                   F.concat(F.lit(" call +12-555-"),
                            (F.lit(1000) + F.pmod(did, 9000)).cast("string")))
            .otherwise(F.lit("")),
            F.when(F.pmod(did, 7) == 0,
                   F.concat(F.lit(" from 10.0."),
                            F.pmod(did, 256).cast("string"), F.lit(".7")))
            .otherwise(F.lit(""))))
    return (with_pii_counts(planted)
            .select("doc_id", "n_email", "n_phone", "n_ipv4"))


BPE_TRAIN_MERGES = 24
BPE_BYTES_MERGES = 16
BPE_TRAIN_DOCLIM = 200


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE TRAINING, value-checked end to end (r4 verdict
    item 2). part 'merge' = the learned merge sequence (rank, pair,
    corpus-weighted pair count) from text.train_bpe run as a real Spark
    job over the deterministic fixture corpus (bpe_train_fixture —
    derived from md5 in pure Python, so the oracle builds the SAME
    corpus and carries the pure-Python reference trainer's expected
    sequence as literals); part 'tokens' = n_tokens_bpe of the documents
    table encoded under the LEARNED table via the pure-Column replace
    chain — the oracle replays the chain generated from ITS learned
    table, so a single diverged merge breaks both parts."""
    import pandas as pd

    from mbrngq_spark.operators.text import bpe_train_fixture, \
        n_tokens_bpe_col, train_bpe
    words = bpe_train_fixture()
    corpus = spark.createDataFrame(
        pd.DataFrame({"text": [" ".join([w] * c) for w, c in words]}))
    merges = train_bpe(corpus, num_merges=BPE_TRAIN_MERGES)
    mrows = spark.createDataFrame(
        pd.DataFrame([(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
                     columns=["idx", "a", "b", "n"]),
        "idx long, a string, b string, n long") \
        .select(F.lit("merge").alias("part"), "idx", "a", "b", "n")
    # part 'bytes' (r5 verdict item 3): GPT-style BYTE-level training —
    # regex pretokens (spaces ride on the token) over the UTF-8 byte
    # alphabet; the oracle carries train_bpe_bytes_reference's expected
    # sequence over the same rebuilt corpus as literals
    merges_b = train_bpe(corpus, num_merges=BPE_BYTES_MERGES,
                         byte_level=True)
    mrows_b = spark.createDataFrame(
        pd.DataFrame([(i, a, b, n)
                      for i, (a, b, n) in enumerate(merges_b)],
                     columns=["idx", "a", "b", "n"]),
        "idx long, a string, b string, n long") \
        .select(F.lit("bytes").alias("part"), "idx", "a", "b", "n")
    mrows = mrows.unionByName(mrows_b)
    pairs = [(a, b) for a, b, _ in merges]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < BPE_TRAIN_DOCLIM)
    toks = docs.select(
        F.lit("tokens").alias("part"), F.col("doc_id").alias("idx"),
        F.lit("").alias("a"), F.lit("").alias("b"),
        n_tokens_bpe_col(F.col("text"), pairs).alias("n"))
    return mrows.unionByName(toks)


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/boilerplate extraction (r4 verdict item 3): documents wrapped
    into planted HTML (script + style payloads, a comment, nested tags,
    entity sequences incl. the order-sensitive '&amp;amp;') → map-only
    Arrow extraction (operators/extract.py) → md5 + length of the
    recovered text. The oracle replays the SAME ordered rule table as
    RE2 regexp_replace/replace chains (html_extract_sql) on the same
    rebuilt HTML."""
    from mbrngq_spark.operators.extract import extract_html
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><head><script type="text/javascript">var id='),
            did, F.lit(';\nif (id > 1) { id = 0; }</script>'),
            F.lit('<style>.c{color:red}\n.d{x:1}</style></head><body>'),
            F.lit('<h1 class="t">Doc '), did, F.lit('</h1>\n<p>'),
            F.col("text"),
            F.lit('</p><!-- secret '), did,
            F.lit(' --><div>tail &amp;amp; A&nbsp;B &lt;x&gt; '
                  '&quot;q&#39;</div></body></html>')).alias("html"))
    out = extract_html(html)
    return out.select("doc_id", F.md5("text").alias("text_md5"),
                      F.length("text").cast("long").alias("text_len"))


def _q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF ARTIFACT under the hard oracle (r4 verdict item
    6): build the partitioned inverted-list artifact in a run-scoped temp
    dir, then answer probes from it — partition-pruned scan, no in-session
    corpus state. The oracle is the SAME relational pivot-IVF replay as
    the in-session path (identical pivots, assignment and probing), so a
    wrong assignment written to disk, a lost list partition, or a probe
    that scans the wrong lists all break the hash."""
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ivf_gate_")
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    similarity.build_ivf_index(emb, tmp, nlist=16)
    queries = emb.filter(F.col("vec_id") < 4) \
                 .select(F.col("vec_id").alias("q_id"), "embedding")
    out = similarity.probe_ivf_index(spark, tmp, queries, k=10, nprobe=4)
    return out.withColumn("rnk", F.col("rnk").cast("long"))


def _q_geo_ngq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NGQ on the sphere (r4 verdict item 5): the flagship group query
    with the great-circle metric over the lat/lon corpus mapping —
    fixed-L contract, per-category cell pruning from the exact rect
    bounds, one query_id-keyed shuffle into the haversine refine
    (geodetic.geodetic_nearest_group). Oracle: exhaustive per-category
    top-L truncation + full L^m enumeration with the same rounded
    distances and (score, id-tuple) order. Queries include the pole and
    antimeridian fixtures."""
    import pandas as pd

    from mbrngq_spark.operators.geodetic import geodetic_nearest_group
    docs_geo = H.load_docs_geo(spark, sf_dir)
    docs_ll = docs_geo.select(
        "doc_id", "category",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    queries = pd.DataFrame(GEO_QUERIES,
                           columns=["query_id", "qlat", "qlon"])
    return geodetic_nearest_group(spark, docs_ll, queries, m=3, k=5, L=6,
                                  res=5)


SUBSTR_N = 4          # positional shingle width (tokens)
SUBSTR_MIN_RUN = 2    # min consecutive shared shingles per flagged run
SUBSTR_DOCLIM = 400

_SUBSTR_HEADER = "shared header quick brown fox jumps over the lazy dog "
_SUBSTR_LICENSE = (" license block alpha beta gamma delta epsilon"
                   " zeta eta theta")
_SUBSTR_TMPL_A = " template "
_SUBSTR_TMPL_B = " lorem ipsum dolor sit amet consectetur adipiscing"


def _q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (r5 verdict item 1): verbatim passages
    shared ACROSS distinct documents (licenses / headers / templated
    spans planted deterministically from doc_id) flagged as maximal token
    spans — positional n-gram shingles xxhash64'd JVM-side, shared-ness
    decided by ONE hash-keyed countDistinct aggregation (never a
    self-join), islands merged per doc — then scrubbed with a JVM-side
    positional token filter. part 'spans' = the flagged (doc_id,
    span_start, span_len) set; part 'scrub' = per-doc surviving token
    count + md5 of the scrubbed text, so a span off by one token breaks
    the gate twice. The oracle recomputes both parts relationally on the
    same planted corpus (string shingles instead of hashes — equal
    grouping semantics)."""
    from mbrngq_spark.operators.dedup import (scrub_substring_spans,
                                              shared_substring_spans)
    did = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(did < SUBSTR_DOCLIM)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.when(F.pmod(did, 5) == 0, F.lit(_SUBSTR_HEADER))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(F.pmod(did, 4) == 0, F.lit(_SUBSTR_LICENSE))
            .otherwise(F.lit("")),
            F.when(F.pmod(did, 7) == 0,
                   F.concat(F.lit(_SUBSTR_TMPL_A),
                            F.pmod(did, 3).cast("string"),
                            F.lit(_SUBSTR_TMPL_B)))
            .otherwise(F.lit(""))).alias("text"))
    spans = shared_substring_spans(planted, n=SUBSTR_N,
                                   min_run=SUBSTR_MIN_RUN)
    scrubbed = scrub_substring_spans(planted, spans)
    p_spans = spans.select(
        F.lit("spans").alias("part"), "doc_id", "span_start", "span_len",
        F.lit("").alias("h"))
    p_scrub = scrubbed.select(
        F.lit("scrub").alias("part"), "doc_id",
        F.lit(-1).cast("long").alias("span_start"),
        F.col("n_tokens_kept").alias("span_len"),
        F.md5("text").alias("h"))
    return p_spans.unionByName(p_scrub)


def _q_text_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text guards, BOTH classifiers in one gate (the
    50-entry rotation rule: single-operator gates merge into tagged
    unions as new gates land). part 'langid' = trigram-profile language
    ID; part 'pii' = planted email/phone/IPv4 counts — schemas
    harmonized (counts -1 on the langid face, lang_pred '' on the pii
    face)."""
    lang = _q_text_langid(spark, sf_dir).select(
        F.lit("langid").alias("part"), "doc_id", "lang_pred",
        F.lit(-1).cast("long").alias("n_email"),
        F.lit(-1).cast("long").alias("n_phone"),
        F.lit(-1).cast("long").alias("n_ipv4"))
    pii = _q_text_pii(spark, sf_dir).select(
        F.lit("pii").alias("part"), "doc_id",
        F.lit("").alias("lang_pred"),
        F.col("n_email").cast("long"),
        F.col("n_phone").cast("long"),
        F.col("n_ipv4").cast("long"))
    return lang.unionByName(pii)


def _q_spatial_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial join family, all in one gate (50-entry rotation): part
    'rect' = rect×rect intersects join (a_id=rect_id, b_id=doc_id, dist
    -1); part 'eps' = grid-bucketed ε-distance self-join with the exact
    rounded distance; part 'dbscan' (r6) = density clustering over the
    same ε-join primitive (clustering.dbscan): a_id=doc_id, b_id=the
    cluster's min-core-id canonical label, dist=1.0 core / 0.0 border
    (noise omitted). The oracle rebuilds the exact semantics with a
    quadratic neighbor join + recursive-CTE reachability over the core
    graph + min-label border assignment."""
    rect = _q_spatial_rect_join(spark, sf_dir).select(
        F.lit("rect").alias("part"),
        F.col("rect_id").cast("long").alias("a_id"),
        F.col("doc_id").cast("long").alias("b_id"),
        F.lit(-1.0).alias("dist"))
    eps = _q_spatial_distance_join(spark, sf_dir).select(
        F.lit("eps").alias("part"), F.col("a_id").cast("long"),
        F.col("b_id").cast("long"), "dist")
    from mbrngq_spark.operators.clustering import dbscan
    docs_geo = H.load_docs_geo(spark, sf_dir)
    db = dbscan(docs_geo, H.DBSCAN_EPS, H.DBSCAN_MINPTS).select(
        F.lit("dbscan").alias("part"),
        F.col("doc_id").cast("long").alias("a_id"),
        F.col("cluster").cast("long").alias("b_id"),
        F.when(F.col("is_core"), 1.0).otherwise(0.0).alias("dist"))
    # part 'line' (r6): point↔polyline corridor join (lines.py) — exact
    # min point-segment distance over the route's segments; the oracle
    # unrolls every segment as LEAST(...) with identical IEEE op order
    import pandas as pd
    from mbrngq_spark.operators.lines import polyline_distance_join
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [l[0] for l in H.POLYLINES],
                      "vx": [l[1] for l in H.POLYLINES],
                      "vy": [l[2] for l in H.POLYLINES]}),
        "line_id long, vx array<double>, vy array<double>")
    ln = polyline_distance_join(docs_geo, lines_df, H.LINE_RADIUS).select(
        F.lit("line").alias("part"),
        F.col("line_id").cast("long").alias("a_id"),
        F.col("doc_id").cast("long").alias("b_id"),
        F.round("dist", 6).alias("dist"))
    # part 'snap' (r6): nearest-polyline map-matching — rank on the RAW
    # double distance (bit-identical sqrt), line_id tie anchor,
    # WindowGroupLimit-capped
    from mbrngq_spark.operators.lines import nearest_polyline
    snap = nearest_polyline(docs_geo, lines_df, H.SNAP_RADIUS).select(
        F.lit("snap").alias("part"),
        F.col("doc_id").cast("long").alias("a_id"),
        F.col("line_id").cast("long").alias("b_id"),
        F.round("dist", 6).alias("dist"))
    # part 'match' (r6): HMM map matching (trajectory.map_match) — the
    # full Viterbi DP cost table over user trajectories vs the fixture
    # routes: emissions micro-quantized JVM-side, the DP pure int64
    # min-plus in an Arrow per-user kernel; the oracle replays it with
    # a pivoted recursive CTE (c0..c2 columns per step). b_id packs
    # (step, route) as step·4+route; dist carries the exact int cost.
    # The backtraced path itself is pytest-verified vs a Python twin.
    from mbrngq_spark.operators.trajectory import (map_match,
                                                   with_event_geometry)
    mev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .filter(F.col("event_id") < H.MATCH_N)
    mm = map_match(with_event_geometry(mev), lines_df,
                   H.MATCH_SWITCH).select(
        F.lit("match").alias("part"), F.col("user_id").alias("a_id"),
        (F.col("step") * 4 + F.col("route_id")).alias("b_id"),
        F.col("costq").cast("double").alias("dist"))
    # part 'sssp' (r6): bounded-hop weighted shortest paths
    # (graph.sssp_khop) over the symmetrized ε-join graph with
    # micro-quantized edge weights, multi-source seeds — exact integer
    # min-plus, k unrolled relaxation rounds in the oracle. a_id=node,
    # b_id=-1, dist=exact int path cost.
    from mbrngq_spark.operators.distance_join import distance_join
    from mbrngq_spark.operators.graph import sssp_khop
    ep = distance_join(docs_geo, docs_geo, H.DBSCAN_EPS, self_join=True)
    wq = F.round(F.col("dist") * F.lit(1e6)).cast("long")
    edges = (ep.select(F.col("a_id").alias("src"),
                       F.col("b_id").alias("dst"), wq.alias("wq"))
             .unionByName(ep.select(F.col("b_id").alias("src"),
                                    F.col("a_id").alias("dst"),
                                    wq.alias("wq"))))
    srcs = spark.createDataFrame([(i,) for i in H.SSSP_SOURCES],
                                 "id long")
    sp = sssp_khop(edges, srcs, H.SSSP_K).select(
        F.lit("sssp").alias("part"), F.col("id").alias("a_id"),
        F.lit(-1).cast("long").alias("b_id"),
        F.col("distq").cast("double").alias("dist"))
    # part 'frechet' (r6): discrete Fréchet trajectory-similarity join
    # (trajectory.frechet_join) over per-doc derived 8-vertex tracks —
    # pairwise distances micro-quantized JVM-side, the DP pure int64
    # min/max in an Arrow kernel; the oracle unrolls the DP row by row
    # with staged same-row columns. a_id<b_id pairs; dist = exact dfq.
    from mbrngq_spark.operators.trajectory import frechet_join
    from mbrngq_spark.functions import derive as _dx
    _fsv = F.sequence(F.lit(0), F.lit(H.SIMPLIFY_V - 1))
    ftracks = (spark.read.parquet(f"{sf_dir}/documents.parquet")
               .filter(F.col("doc_id") < H.FRECHET_N)
               .select(F.col("doc_id").alias("line_id"))
               .select("line_id",
                       F.transform(_fsv, lambda i: _dx.x_col(
                           F.col("line_id") * 31 + i * 7 + 1)).alias("vx"),
                       F.transform(_fsv, lambda i: _dx.y_col(
                           F.col("line_id") * 31 + i * 7 + 1)).alias("vy")))
    fr = (frechet_join(ftracks, ftracks, self_join=True)
          .select(F.lit("frechet").alias("part"), "a_id", "b_id",
                  F.col("dfq").cast("double").alias("dist")))
    # parts 'dtw' + 'hausdorff' (r6): the other two trajectory
    # similarity measures over the same quantized matrix — DTW is the
    # sum/min DP (int64 Arrow kernel), Hausdorff is pure Column
    # (min-per-row maxes + greatest, no kernel at all).
    from mbrngq_spark.operators.trajectory import dtw_join, hausdorff_join
    dt = (dtw_join(ftracks, ftracks, self_join=True)
          .select(F.lit("dtw").alias("part"), "a_id", "b_id",
                  F.col("dtwq").cast("double").alias("dist")))
    hz = (hausdorff_join(ftracks, ftracks, self_join=True)
          .select(F.lit("hausdorff").alias("part"), "a_id", "b_id",
                  F.col("dhq").cast("double").alias("dist")))
    return (rect.unionByName(eps).unionByName(db).unionByName(ln)
            .unionByName(snap).unionByName(mm).unionByName(sp)
            .unionByName(fr).unionByName(dt).unionByName(hz))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ≤ 50 entries BY CONTRACT: the round driver checks at most 50, so
    # overlapping gates are consolidated (part/method-tagged unions) and
    # every operator family stays inside the hard oracle signal. The
    # riskiest/newest gates lead.
    return {
        "spatial_ngq": _q_spatial_ngq,            # m3 + m5 (merged)
        "cardinality_sketch": _q_cardinality_sketch,  # HLL regs+est (r6)
        "text_quality_clf": _q_text_quality_clf,  # weights + scores (r6)
        "dedup_substring": _q_dedup_substring,    # spans + scrub (r6)
        "geo_ngq": _q_geo_ngq,
        "bpe_train": _q_bpe_train,
        "html_extract": _q_html_extract,
        "ann_ivf_persisted": _q_ann_ivf_persisted,
        "spatial_range": _q_spatial_range,
        "spatial_knn": _q_spatial_knn,
        "spatial_nearest": _q_spatial_nearest,    # ties + capped (merged)
        "tile_assign": _q_tile_assign,
        "tile_rollup": _q_tile_rollup,
        "tile_cover": _q_tile_cover,
        "poly_cover": _q_poly_cover,
        "cell_pyramid": _q_cell_pyramid,          # subsumes cell_catmask
        "minhash_near_dups": _q_minhash_near_dups,  # near + bands (merged)
        "dedup_pipeline": _q_dedup_pipeline,
        "dedup_cc": _q_dedup_cc,
        "spatial_pip": _q_spatial_pip,
        "spatial_bounds": _q_spatial_bounds,
        "spatial_joins": _q_spatial_joins,        # rect + eps (merged r6)
        "dedup_exact": _q_dedup_exact,
        "text_features": _q_text_features,
        "ann_topk": _q_ann_topk,                  # exact + lsh + ivf (merged)
        "dedup_jaccard": _q_dedup_jaccard,
        "events_sessionize": _q_events_sessionize,
        "agg_stats": _q_agg_stats,                # moments + quantiles (merged)
        "text_guards": _q_text_guards,            # langid + pii (merged r6)
        "embedding_near_dups": _q_embedding_near_dups,
        "simhash_dups": _q_simhash_dups,          # h0 + md5 (merged)
        "media_features": _q_media_features,
        "media_mjpeg": _q_media_mjpeg,
        "text_bm25": _q_text_bm25,
        "corpus_chunks": _q_corpus_chunks,
        "spans_invariant": _q_spans_invariant,
        "agg_cube": _q_agg_cube,
        "geo_knn": _q_geo_knn,
        "geo_range": _q_geo_range,
        "geo_pairs": _q_geo_pairs,
        "snapshot_roundtrip": _q_snapshot_roundtrip,
        "events_pivot": _q_events_pivot,
        "corpus_decontam": _q_corpus_decontam,
        "agg_pricing": _q_agg_pricing,
        "join_orders_nation": _q_join_orders_nation,
        "sql_relational": _q_sql_relational,      # sets + outer (merged r6)
        "calendar_rollup": _q_calendar_rollup,    # month + hour (merged)
        "window_top_orders": _q_window_top_orders,
        "events_asof": _q_events_asof,
        "corpus_sample": _q_corpus_sample,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (same constants via harness builders)
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    geo = H.docs_geo_sql()
    d = H.dist_sql  # euclidean with engine op order

    spatial_range = f"""
        WITH g AS ({geo})
        SELECT r.rect_id, g.doc_id, g.x, g.y
        FROM g CROSS JOIN {H.rect_values_sql()}
        WHERE g.x >= r.xmin AND g.x <= r.xmax AND g.y >= r.ymin AND g.y <= r.ymax
    """

    knn_core = f"""
        WITH g AS ({geo}),
        cand AS (
          SELECT q.query_id, g.doc_id,
                 {d('g.x', 'g.y', 'q.qx', 'q.qy')} AS dist
          FROM g CROSS JOIN {H.q_values_sql()}
        )
    """
    spatial_knn = knn_core + f"""
        , ranked AS (
          SELECT query_id, doc_id, dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dist ASC, doc_id ASC) AS rnk
          FROM cand)
        SELECT query_id, doc_id, rnk, round(dist, 6) AS dist
        FROM ranked WHERE rnk <= {H.KNN_K}
    """
    spatial_nearest = knn_core + f"""
        , ranked_t AS (
          SELECT query_id, doc_id, dist,
                 rank() OVER (PARTITION BY query_id
                              ORDER BY dist ASC, doc_id ASC) AS rnk
          FROM cand),
        ranked_c AS (
          SELECT query_id, doc_id, dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dist ASC, doc_id ASC) AS rnk
          FROM cand WHERE dist <= {H.KNN_CAP})
        SELECT 'ties' AS part, query_id, doc_id,
               CAST(1 AS BIGINT) AS rnk, round(dist, 6) AS dist
        FROM ranked_t WHERE rnk <= 1
        UNION ALL
        SELECT 'capped', query_id, doc_id, rnk, round(dist, 6)
        FROM ranked_c WHERE rnk <= {H.KNN_K}
    """

    def ngq_sql(geo_sql: str, m: int, k: int, L: int) -> str:
        """Parametric NGQ oracle: per-category top-L truncation, full L^m
        cross-category enumeration, GetGroupMinDist score = max pairwise
        member distance + min member-to-q distance (RTree.cs:938-966),
        top-k under the (score, id-tuple) total order — for any m
        (Config.cs:11)."""
        import itertools as _it
        cats = ",".join(f"""
        c{c} AS (SELECT * FROM (
          SELECT query_id, doc_id, x, y, dq,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dq ASC, doc_id ASC) AS rn
          FROM cand WHERE category = {c}) WHERE rn <= {L})""" for c in range(m))
        pair_d = [d(f"c{i}.x", f"c{i}.y", f"c{j}.x", f"c{j}.y")
                  for i, j in _it.combinations(range(m), 2)]
        inner = f"greatest({', '.join(pair_d)})" if len(pair_d) > 1 else pair_d[0]
        inter = f"least({', '.join(f'c{i}.dq' for i in range(m))})"
        id_sel = ", ".join(f"c{i}.doc_id AS c{i}_id" for i in range(m))
        id_cols = ", ".join(f"c{i}_id" for i in range(m))
        joins = " ".join(f"JOIN c{i} ON c{i-1}.query_id = c{i}.query_id"
                         for i in range(1, m))
        return f"""
        WITH g AS ({geo_sql}),
        cand AS (
          SELECT q.query_id, g.doc_id, g.x, g.y, g.category,
                 {d('g.x', 'g.y', 'q.qx', 'q.qy')} AS dq
          FROM g CROSS JOIN {H.q_values_sql()}
        ),
        {cats},
        grp AS (
          SELECT c0.query_id, {id_sel}, {inner} + {inter} AS score
          FROM c0 {joins}
        ),
        ranked AS (
          SELECT query_id, {id_cols}, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score ASC, {id_cols})
                 AS group_rank
          FROM grp)
        SELECT query_id, group_rank, {id_cols}, round(score, 6) AS min_dist
        FROM ranked WHERE group_rank <= {k}
    """

    from mbrngq_spark.config import EngineConfig as _EC

    def _members(m: int) -> str:
        return ("concat_ws(',', "
                + ", ".join(f"CAST(c{i}_id AS VARCHAR)" for i in range(m))
                + ")")

    spatial_ngq = f"""
        SELECT 'm3' AS part, query_id, group_rank,
               {_members(3)} AS members, min_dist
        FROM ({ngq_sql(geo, 3, H.NGQ_K, H.NGQ_L)})
        UNION ALL
        SELECT 'm5', query_id, group_rank, {_members(H.NGQ5_M)}, min_dist
        FROM ({ngq_sql(H.docs_geo_sql(_EC(m=H.NGQ5_M)),
                       H.NGQ5_M, H.NGQ5_K, H.NGQ5_L)})
    """

    spatial_distance_join = f"""
        WITH g AS ({geo})
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               round({d('a.x', 'a.y', 'b.x', 'b.y')}, 6) AS dist
        FROM g a JOIN g b ON a.doc_id < b.doc_id
        WHERE {d('a.x', 'a.y', 'b.x', 'b.y')} <= {H.EPS_JOIN}
    """

    n_tile = 1 << H.TILE_RES
    qx_tile = H.quantize_sql("g.x", H.CFG.min_x, H.CFG.width, H.TILE_RES)
    qy_tile = H.quantize_sql("g.y", H.CFG.min_y, H.CFG.height, H.TILE_RES)
    tile_assign = f"""
        WITH g AS ({geo})
        SELECT doc_id, ({qy_tile}) * {n_tile} + ({qx_tile}) AS tile_id FROM g
    """
    tile_rollup = f"""
        WITH g AS ({geo})
        SELECT ({qy_tile}) * {n_tile} + ({qx_tile}) AS tile_id,
               count(*) AS n_docs,
               bit_or(CAST(1 << category AS BIGINT)) AS catmask,
               min(x) AS xmin, min(y) AS ymin, max(x) AS xmax, max(y) AS ymax
        FROM g GROUP BY 1
    """

    # tile_cover: corner bins via the same clamped quantize, tile product
    # via two LATERAL generate_series — bit-identical bin arithmetic
    tile_cover = f"""
        WITH b AS (
          SELECT rect_id,
                 {H.quantize_sql('xmin', H.CFG.min_x, H.CFG.width, H.TILE_RES)} AS ix0,
                 {H.quantize_sql('xmax', H.CFG.min_x, H.CFG.width, H.TILE_RES)} AS ix1,
                 {H.quantize_sql('ymin', H.CFG.min_y, H.CFG.height, H.TILE_RES)} AS iy0,
                 {H.quantize_sql('ymax', H.CFG.min_y, H.CFG.height, H.TILE_RES)} AS iy1
          FROM {H.rect_values_sql()}
          WHERE xmax >= {H.CFG.min_x} AND xmin <= {H.CFG.min_x + H.CFG.width}
            AND ymax >= {H.CFG.min_y} AND ymin <= {H.CFG.min_y + H.CFG.height}),
        bx AS (
          SELECT rect_id, iy0, iy1,
                 unnest(generate_series(ix0, ix1)) AS ix
          FROM b)
        SELECT rect_id,
               CAST(iy * {1 << H.TILE_RES} + ix AS BIGINT) AS tile_id,
               CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy
        FROM (SELECT rect_id, ix,
                     unnest(generate_series(iy0, iy1)) AS iy
              FROM bx)
    """

    # cell_pyramid's MASK_RES level IS the former cell_catmask gate
    # (CalculateBitArray parity, RTree.cs:209-247) — one gate covers both
    from mbrngq_spark.operators import sketch as SKm
    pyr_levels = []
    _hll_reg, _hll_rho = SKm.hll_register_sql("g.doc_id % 37")
    for res in (2, H.MASK_RES):
        qx_r = H.quantize_sql("g.x", H.CFG.min_x, H.CFG.width, res)
        qy_r = H.quantize_sql("g.y", H.CFG.min_y, H.CFG.height, res)
        pyr_levels.append(f"""
        SELECT 'stats' AS part, CAST({res} AS INT) AS res,
               {H.morton_sql(f'({qx_r})', f'({qy_r})', res)} AS cell,
               count(*) AS a,
               bit_or(CAST(1 << category AS BIGINT)) AS b
        FROM g GROUP BY 3""")
        # 'hll' part: the oracle builds EVERY level directly from rows,
        # while Spark derives the coarse level by register-max rollup
        # through Morton parents — the hash match proves merge == direct
        pyr_levels.append(f"""
        SELECT 'hll' AS part, CAST({res} AS INT) AS res,
               {H.morton_sql(f'({qx_r})', f'({qy_r})', res)} AS cell,
               {_hll_reg} AS a, max({_hll_rho}) AS b
        FROM g GROUP BY 3, 4""")
    # 'kde' part: the biweight heatmap splat replayed stage-by-stage —
    # per-row ranges via staged unnest(generate_series) (CLAUDE.md), the
    # kernel with the engine's exact op order, int64 quantization BEFORE
    # the sum (exactly associative — shuffle order can't matter)
    _kh, _kh2, _kq = H.KDE_H, H.KDE_H * H.KDE_H, 1e9
    _kn = 1 << H.KDE_RES
    _kwx, _kwy = H.CFG.width / _kn, H.CFG.height / _kn
    pyr_levels.append(f"""
        SELECT 'kde' AS part, CAST({H.KDE_RES} AS INT) AS res,
               {H.morton_sql('ix', 'iy', H.KDE_RES)} AS cell,
               sum(CAST(round(((1.0 - d2 / {_kh2!r}) * (1.0 - d2 / {_kh2!r}))
                              * {_kq!r}) AS BIGINT)) AS a,
               count(*) AS b
        FROM (
          SELECT ix, iy,
                 (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2
          FROM (
            SELECT x, y, ix, iy,
                   {H.CFG.min_x!r} + (ix + 0.5) * {_kwx!r} AS cx,
                   {H.CFG.min_y!r} + (iy + 0.5) * {_kwy!r} AS cy
            FROM (
              SELECT x, y, ix,
                     unnest(generate_series(
                       {H.quantize_sql(f'(y - {_kh!r})', H.CFG.min_y,
                                       H.CFG.height, H.KDE_RES)},
                       {H.quantize_sql(f'(y + {_kh!r})', H.CFG.min_y,
                                       H.CFG.height, H.KDE_RES)})) AS iy
              FROM (
                SELECT x, y,
                       unnest(generate_series(
                         {H.quantize_sql(f'(x - {_kh!r})', H.CFG.min_x,
                                         H.CFG.width, H.KDE_RES)},
                         {H.quantize_sql(f'(x + {_kh!r})', H.CFG.min_x,
                                         H.CFG.width, H.KDE_RES)})) AS ix
                FROM g) gx) gxy) gc) gd
        WHERE d2 <= {_kh2!r}
        GROUP BY 3""")
    # 'focal' + 'hotspot' parts: the 3×3 splat replayed via staged
    # unnest(generate_series) over the cell raster; Gi* recomputed with
    # the engine's exact op order over the same exact-int inputs
    # (counts, focal sums, W_i, corpus total/sumsq) — floor(gi·10^6)
    # because Gi* is signed (round-half semantics differ across engines
    # on negatives; floor is identical on identical doubles)
    _mn = 1 << H.MASK_RES
    _mnn = float(_mn * _mn)
    qx_m = H.quantize_sql("g.x", H.CFG.min_x, H.CFG.width, H.MASK_RES)
    qy_m = H.quantize_sql("g.y", H.CFG.min_y, H.CFG.height, H.MASK_RES)
    _splat = f"""
          SELECT tx, ty, n_docs FROM (
            SELECT n_docs, tx,
                   unnest(generate_series(iy - 1, iy + 1)) AS ty
            FROM (
              SELECT n_docs, iy,
                     unnest(generate_series(ix - 1, ix + 1)) AS tx
              FROM (SELECT ({qx_m}) AS ix, ({qy_m}) AS iy,
                           count(*) AS n_docs
                    FROM g GROUP BY 1, 2) rb) sx) sxy
          WHERE tx BETWEEN 0 AND {_mn - 1} AND ty BETWEEN 0 AND {_mn - 1}
    """
    pyr_levels.append(f"""
        SELECT 'focal' AS part, CAST({H.MASK_RES} AS INT) AS res,
               {H.morton_sql('tx', 'ty', H.MASK_RES)} AS cell,
               CAST(sum(n_docs) AS BIGINT) AS a,
               CAST(max(n_docs) AS BIGINT) AS b
        FROM ({_splat}) sp
        GROUP BY 3""")
    _w_sql = (f"CAST((3 - CASE WHEN tx = 0 THEN 1 ELSE 0 END"
              f" - CASE WHEN tx = {_mn - 1} THEN 1 ELSE 0 END)"
              f" * (3 - CASE WHEN ty = 0 THEN 1 ELSE 0 END"
              f" - CASE WHEN ty = {_mn - 1} THEN 1 ELSE 0 END) AS BIGINT)")
    _xbar = f"(CAST(total AS DOUBLE) / {_mnn!r})"
    _sdev = f"sqrt(CAST(sumsq AS DOUBLE) / {_mnn!r} - {_xbar} * {_xbar})"
    _wd = "CAST(w_i AS DOUBLE)"
    _gi = (f"(CAST(s_i AS DOUBLE) - {_xbar} * {_wd})"
           f" / ({_sdev} * sqrt(({_mnn!r} * {_wd} - {_wd} * {_wd})"
           f" / {_mnn - 1.0!r}))")
    pyr_levels.append(f"""
        SELECT 'hotspot' AS part, CAST({H.MASK_RES} AS INT) AS res,
               {H.morton_sql('tx', 'ty', H.MASK_RES)} AS cell,
               CAST(FLOOR({_gi} * 1000000.0) AS BIGINT) AS a,
               w_i AS b
        FROM (SELECT tx, ty, {_w_sql} AS w_i,
                     CAST(sum(n_docs) AS BIGINT) AS s_i
              FROM ({_splat}) sp GROUP BY 1, 2) fo
        CROSS JOIN (
          SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                 CAST(sum(n_docs * n_docs) AS BIGINT) AS sumsq
          FROM (SELECT ({qx_m}) AS ix, ({qy_m}) AS iy, count(*) AS n_docs
                FROM g GROUP BY 1, 2) rb) gl""")
    # 'idw' part: the smoothed-IDW splat replayed stage-by-stage (same
    # staged generate_series shape as kde) — w = 1/(d²+s²), w·v and w
    # quantized to int64 BEFORE the sums (exactly associative)
    _is2, _iq = 0.5 * 0.5, 1e9
    pyr_levels.append(f"""
        SELECT 'idw' AS part, CAST({H.KDE_RES} AS INT) AS res,
               {H.morton_sql('ix', 'iy', H.KDE_RES)} AS cell,
               CAST(sum(CAST(round((1.0 / (d2 + {_is2!r})) * v * {_iq!r})
                             AS BIGINT)) AS BIGINT) AS a,
               CAST(sum(CAST(round((1.0 / (d2 + {_is2!r})) * {_iq!r})
                             AS BIGINT)) AS BIGINT) AS b
        FROM (
          SELECT ix, iy, v,
                 (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2
          FROM (
            SELECT x, y, v, ix, iy,
                   {H.CFG.min_x!r} + (ix + 0.5) * {_kwx!r} AS cx,
                   {H.CFG.min_y!r} + (iy + 0.5) * {_kwy!r} AS cy
            FROM (
              SELECT x, y, v, ix,
                     unnest(generate_series(
                       {H.quantize_sql(f'(y - {_kh!r})', H.CFG.min_y,
                                       H.CFG.height, H.KDE_RES)},
                       {H.quantize_sql(f'(y + {_kh!r})', H.CFG.min_y,
                                       H.CFG.height, H.KDE_RES)})) AS iy
              FROM (
                SELECT x, y, v,
                       unnest(generate_series(
                         {H.quantize_sql(f'(x - {_kh!r})', H.CFG.min_x,
                                         H.CFG.width, H.KDE_RES)},
                         {H.quantize_sql(f'(x + {_kh!r})', H.CFG.min_x,
                                         H.CFG.width, H.KDE_RES)})) AS ix
                FROM (SELECT g.x, g.y,
                             CAST(g.doc_id % 97 AS DOUBLE) AS v
                      FROM g) gv) gx) gxy) gc) gd
        WHERE d2 <= {_kh2!r}
        GROUP BY 3""")
    # 'moran' part: global Moran's I — exact-int scalar inputs
    # (crossnum via the self-excluding neighbor-pair join, sumxw, total,
    # sumsq) combined with the engine's exact double dag; one row
    _wtot = (3 * _mn - 2) ** 2 - _mn * _mn
    _rb = (f"SELECT ({qx_m}) AS ix, ({qy_m}) AS iy, count(*) AS n_docs "
           f"FROM g GROUP BY 1, 2")
    _wex = (f"CAST((3 - CASE WHEN ix = 0 THEN 1 ELSE 0 END"
            f" - CASE WHEN ix = {_mn - 1} THEN 1 ELSE 0 END)"
            f" * (3 - CASE WHEN iy = 0 THEN 1 ELSE 0 END"
            f" - CASE WHEN iy = {_mn - 1} THEN 1 ELSE 0 END)"
            f" - 1 AS BIGINT)")
    _mxbar = f"(CAST(total AS DOUBLE) / {_mnn!r})"
    _mnum = (f"(CAST(crossnum AS DOUBLE)"
             f" - {_mxbar} * (2.0 * CAST(sumxw AS DOUBLE))"
             f" + {_mxbar} * {_mxbar} * {float(_wtot)!r})")
    _mden = (f"(CAST(sumsq AS DOUBLE)"
             f" - CAST(total AS DOUBLE) * CAST(total AS DOUBLE)"
             f" / {_mnn!r})")
    pyr_levels.append(f"""
        SELECT 'moran' AS part, CAST({H.MASK_RES} AS INT) AS res,
               CAST(-1 AS BIGINT) AS cell,
               CAST(FLOOR({_mnn / float(_wtot)!r} * {_mnum} / {_mden}
                          * 1000000000.0) AS BIGINT) AS a,
               CAST({_wtot} AS BIGINT) AS b
        FROM (
          SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                 CAST(sum(n_docs * n_docs) AS BIGINT) AS sumsq,
                 CAST(sum(n_docs * {_wex}) AS BIGINT) AS sumxw
          FROM ({_rb}) rb) g1
        CROSS JOIN (
          SELECT CAST(sum(s.n_docs * t.n_docs) AS BIGINT) AS crossnum
          FROM (
            SELECT ix, iy, n_docs, tx,
                   unnest(generate_series(iy - 1, iy + 1)) AS ty
            FROM (SELECT ix, iy, n_docs,
                         unnest(generate_series(ix - 1, ix + 1)) AS tx
                  FROM ({_rb}) r0) r1) s
          JOIN ({_rb}) t ON s.tx = t.ix AND s.ty = t.iy
          WHERE s.tx BETWEEN 0 AND {_mn - 1}
            AND s.ty BETWEEN 0 AND {_mn - 1}
            AND (s.tx <> s.ix OR s.ty <> s.iy)) g2""")
    # 'balance' part: the equi-depth range partitioner's closed form
    # replayed — one window cumsum over the Morton-ordered cell table
    pyr_levels.append(f"""
        SELECT 'balance' AS part, CAST({H.MASK_RES} AS INT) AS res,
               cell, CAST((cum_before * {H.BAL_P}) // total AS BIGINT)
               AS a, n_docs AS b
        FROM (
          SELECT cell, n_docs,
                 CAST(coalesce(sum(n_docs) OVER (ORDER BY cell
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cum_before,
                 CAST(sum(n_docs) OVER () AS BIGINT) AS total
          FROM (SELECT {H.morton_sql(f'({qx_m})', f'({qy_m})',
                                     H.MASK_RES)} AS cell,
                       count(*) AS n_docs
                FROM g GROUP BY 1) mb) bb""")

    # 'geo_hotspot' part: the spherical Gi* replayed — lon-wrapped
    # splat ((tx + n) % n), lat-clamped W_i = 3·wy, same scalar dag
    _gn = 32
    _gnn = float(_gn * _gn)
    _giy = (f"LEAST(CAST(FLOOR((g.y * 1.8 - 90.0 + 90.0)"
            f" / {180.0 / _gn!r}) AS BIGINT), {_gn - 1})")
    _gix = (f"LEAST(CAST(FLOOR((g.x * 3.6 - 180.0 + 180.0)"
            f" / {360.0 / _gn!r}) AS BIGINT), {_gn - 1})")
    _grb = (f"SELECT {_gix} AS ix, {_giy} AS iy, count(*) AS n_docs"
            f" FROM g GROUP BY 1, 2")
    _gw = ("CAST(3 * (3 - CASE WHEN ty = 0 THEN 1 ELSE 0 END"
           f" - CASE WHEN ty = {_gn - 1} THEN 1 ELSE 0 END) AS BIGINT)")
    _gxbar = f"(CAST(total AS DOUBLE) / {_gnn!r})"
    _gsdev = (f"sqrt(CAST(sumsq AS DOUBLE) / {_gnn!r}"
              f" - {_gxbar} * {_gxbar})")
    _gwd = "CAST(w_i AS DOUBLE)"
    _ggi = (f"(CAST(s_i AS DOUBLE) - {_gxbar} * {_gwd})"
            f" / ({_gsdev} * sqrt(({_gnn!r} * {_gwd} - {_gwd} * {_gwd})"
            f" / {_gnn - 1.0!r}))")
    pyr_levels.append(f"""
        SELECT 'geo_hotspot' AS part, CAST(5 AS INT) AS res,
               CAST(ty * {_gn} + tx AS BIGINT) AS cell,
               CAST(FLOOR({_ggi} * 1000000.0) AS BIGINT) AS a,
               w_i AS b
        FROM (SELECT tx, ty, {_gw} AS w_i,
                     CAST(sum(n_docs) AS BIGINT) AS s_i
              FROM (
                SELECT n_docs, (txr + {_gn}) % {_gn} AS tx, ty FROM (
                  SELECT n_docs, txr,
                         unnest(generate_series(iy - 1, iy + 1)) AS ty
                  FROM (SELECT n_docs, iy,
                               unnest(generate_series(ix - 1, ix + 1))
                               AS txr
                        FROM ({_grb}) grb) g1) g2
                WHERE ty BETWEEN 0 AND {_gn - 1}) g3
              GROUP BY 1, 2) gf
        CROSS JOIN (
          SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                 CAST(sum(n_docs * n_docs) AS BIGINT) AS sumsq
          FROM ({_grb}) grb2) gg""")

    cell_pyramid = f"""
        WITH g AS ({geo})
        {' UNION ALL '.join(pyr_levels)}
    """

    # part 'near': exact Jaccard-threshold pair set (LSH recall must be
    # 1.0 on the planted corpus); part 'bands': the md5-family banding
    # stage replayed bit-identically (jaccard = -1 sentinel)
    minhash_near_dups = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + 10000, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + 20000, 'zzz' || substr(text, 4)
          FROM documents WHERE doc_id < 60),
        sh AS (
          SELECT doc_id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)),
        shx AS (
          SELECT doc_id, unnest(s) AS s FROM sh),
        vals AS (
          SELECT doc_id, f.i AS fam,
                 substr(md5(CAST(f.i AS VARCHAR) || chr(1) || s), 1, 15) AS v
          FROM shx CROSS JOIN range(16) f(i)),
        sig AS (SELECT doc_id, fam, min(v) AS mv FROM vals
                GROUP BY doc_id, fam),
        bands AS (
          SELECT doc_id, fam // 4 AS band,
                 string_agg(mv, '|' ORDER BY fam) AS bucket
          FROM sig GROUP BY doc_id, fam // 4)
        SELECT 'near' AS part, id_a, id_b, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE j >= 0.6
        UNION ALL
        SELECT DISTINCT 'bands', a.doc_id, b.doc_id, CAST(-1.0 AS DOUBLE)
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """

    # dedup_pipeline: both stages recomputed independently — exact keepers
    # by md5 min-id, then EXHAUSTIVE quadratic Jaccard over the survivors
    # (the engine's LSH candidate shortcut must reproduce this keep-list)
    dedup_pipeline = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + 10000, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + 20000, 'zzz' || substr(text, 4)
          FROM documents WHERE doc_id < 60),
        s1 AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        surv AS (SELECT c.doc_id, c.text FROM corpus c JOIN s1 USING (doc_id)),
        sh AS (
          SELECT doc_id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM surv)),
        dropped AS (
          SELECT DISTINCT b.doc_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.6)
        SELECT doc_id FROM s1
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """

    # dedup_cc: exhaustive pair graph + RECURSIVE-CTE transitive closure —
    # the keep-list is one component-minimum per connected family (the
    # engine's alternating-star CC must reproduce it exactly)
    _pref = ("array_to_string([{tag} || CAST(doc_id AS VARCHAR) || 'x' || "
             "CAST(i AS VARCHAR) FOR i IN range(1, greatest(CAST(floor("
             "len(string_split(text, ' ')) / 2) AS INT), 2) + 1)], ' ')")
    dedup_cc = f"""
        WITH RECURSIVE corpus AS (
          SELECT doc_id, {_pref.format(tag="'qa'")} || ' ' || text AS text
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 20000, {_pref.format(tag="'qb'")} || ' ' || text
          FROM documents WHERE doc_id < 40
          UNION ALL
          SELECT doc_id + 40000, text FROM documents WHERE doc_id < 40),
        s1 AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        surv AS (SELECT c.doc_id, c.text FROM corpus c JOIN s1 USING (doc_id)),
        sh AS (
          SELECT doc_id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM surv)),
        pairs AS (
          SELECT a.doc_id AS pa, b.doc_id AS pb
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                >= 0.55),
        edges AS (SELECT pa AS u, pb AS v FROM pairs
                  UNION SELECT pb, pa FROM pairs),
        reach(id, r) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, reach.r FROM reach JOIN edges e ON reach.id = e.u),
        comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        SELECT doc_id FROM surv
        WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> comp)
    """

    # convex CCW triangles: inside ⇔ all three edge cross-products > 0
    def cross(ax, ay, bx, by, px, py):
        return f"(({bx}-{ax})*({py}-{ay}) - ({by}-{ay})*({px}-{ax}))"
    # overlay part: the 12 triangle-edge × square-edge proper-crossing
    # orientation tests (identical multiply/subtract op order to the
    # engine's _edges_cross — pure-boolean parity) plus both containment
    # fallbacks (convex-cross for the CCW triangle, box test for the
    # axis-aligned square — equal to the engine's even-odd fold off the
    # measure-zero boundary)
    _s = repr(H.OVERLAY_S)

    def _ov_o(px, py, qx, qy, rx, ry):
        return (f"((({qx}) - ({px})) * (({ry}) - ({py}))"
                f" - (({qy}) - ({py})) * (({rx}) - ({px})))")

    def _ov_cross(a1, a2, b1, b2):
        return (f"({_ov_o(*a1, *a2, *b1)} * {_ov_o(*a1, *a2, *b2)} < 0"
                f" AND {_ov_o(*b1, *b2, *a1)} * {_ov_o(*b1, *b2, *a2)}"
                f" < 0)")

    _tri_e = [(("t.x1", "t.y1"), ("t.x2", "t.y2")),
              (("t.x2", "t.y2"), ("t.x3", "t.y3")),
              (("t.x3", "t.y3"), ("t.x1", "t.y1"))]
    _sq = [(f"(g.x - {_s})", f"(g.y - {_s})"),
           (f"(g.x + {_s})", f"(g.y - {_s})"),
           (f"(g.x + {_s})", f"(g.y + {_s})"),
           (f"(g.x - {_s})", f"(g.y + {_s})")]
    _sq_e = [(_sq[i], _sq[(i + 1) % 4]) for i in range(4)]
    _ov_edge_any = " OR ".join(_ov_cross(e1[0], e1[1], e2[0], e2[1])
                               for e1 in _tri_e for e2 in _sq_e)
    _cx, _cy = _sq[0]
    _ov_corner_in_tri = (
        f"({cross('t.x1', 't.y1', 't.x2', 't.y2', _cx, _cy)} > 0"
        f" AND {cross('t.x2', 't.y2', 't.x3', 't.y3', _cx, _cy)} > 0"
        f" AND {cross('t.x3', 't.y3', 't.x1', 't.y1', _cx, _cy)} > 0)")
    _ov_v1_in_sq = (f"(t.x1 >= g.x - {_s} AND t.x1 <= g.x + {_s}"
                    f" AND t.y1 >= g.y - {_s} AND t.y1 <= g.y + {_s})")

    spatial_pip = f"""
        WITH g AS ({geo}),
        hits AS (
          SELECT t.poly_id, g.doc_id
          FROM g CROSS JOIN {H.tri_values_sql()}
          WHERE {cross('t.x1', 't.y1', 't.x2', 't.y2', 'g.x', 'g.y')} > 0
            AND {cross('t.x2', 't.y2', 't.x3', 't.y3', 'g.x', 'g.y')} > 0
            AND {cross('t.x3', 't.y3', 't.x1', 't.y1', 'g.x', 'g.y')} > 0
        )
        SELECT 'driver' AS part, poly_id, doc_id FROM hits
        UNION ALL
        SELECT 'dist' AS part, poly_id, doc_id FROM hits
        UNION ALL
        SELECT part, poly_id, doc_id FROM (
          WITH ll AS (SELECT doc_id, y * 1.8 - 90.0 AS lat,
                             x * 3.6 - 180.0 AS lon FROM ({geo})),
          ghits AS ({" UNION ALL ".join(
              f"SELECT CAST({pid} AS BIGINT) AS poly_id, doc_id FROM ll "
              f"WHERE {_geo_pip_pred_sql(vlat, vlon)}"
              for pid, vlat, vlon in GEO_POLYS)})
          SELECT 'geo' AS part, poly_id, doc_id FROM ghits
          UNION ALL
          SELECT 'geo_dist' AS part, poly_id, doc_id FROM ghits
        ) g2
        UNION ALL
        SELECT 'overlay' AS part, t.poly_id, g.doc_id
        FROM g CROSS JOIN {H.tri_values_sql()}
        WHERE ({_ov_edge_any})
           OR {_ov_corner_in_tri}
           OR {_ov_v1_in_sq}
    """

    spatial_bounds = f"""
        WITH g AS ({geo})
        SELECT category, count(*) AS n,
               min(x) AS xmin, min(y) AS ymin, max(x) AS xmax, max(y) AS ymax
        FROM g GROUP BY category
    """

    spatial_rect_join = f"""
        WITH g AS ({geo}),
        b AS (
          SELECT doc_id,
                 x - h AS bxmin, y - h AS bymin, x + h AS bxmax, y + h AS bymax
          FROM (SELECT doc_id, x, y,
                       CAST((doc_id * 7919 + 13) % 1000 AS DOUBLE)
                       / 1000.0 * 2.0 + 0.25 AS h
                FROM g))
        SELECT r.rect_id, b.doc_id
        FROM b CROSS JOIN {H.rect_values_sql()}
        WHERE b.bxmin <= r.xmax AND b.bxmax >= r.xmin
          AND b.bymin <= r.ymax AND b.bymax >= r.ymin
    """

    dedup_exact = """
        SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id,
               count(*) AS dup_count
        FROM documents GROUP BY 1
    """

    text_features = f"""
        WITH base AS (
          SELECT doc_id, text,
                 (length(text) - length(replace(text, ' ', ''))) + 1 AS n_tokens,
                 ((length(text) - length(replace(text, ' the ', ''))) // 5)
                 + ((length(text) - length(replace(text, ' a ', ''))) // 3) AS n_stop
          FROM documents),
        fp AS (
          SELECT doc_id,
                 CAST(sum(ord(substr(text, u.i, 1)) * u.i) % {H.FP_PRIME} AS BIGINT) AS fingerprint
          FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
          GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               {text.bpe_count_sql('b.text')} AS n_tokens_bpe,
               b.n_stop,
               round(CAST(length(b.text) - (b.n_tokens - 1) AS DOUBLE)
                     / b.n_tokens, 6) AS avg_token_len,
               round(least(CAST(b.n_tokens AS DOUBLE) / 200.0, 1.0) * 0.5
                     + least(CAST(b.n_stop AS DOUBLE) * 10.0 / b.n_tokens, 1.0)
                     * 0.5, 6) AS quality,
               fp.fingerprint,
               rp.dup_line_frac, rp.dup_token_frac,
               rp.top_bigram_frac, rp.dup_trigram_frac
        FROM base b JOIN fp USING (doc_id)
        JOIN ({text.repetition_sql("documents")}) rp USING (doc_id)
    """

    ann_cosine_topk = """
        WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id < 4),
        scored AS (
          SELECT q.q_id, e.vec_id,
                 round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
          FROM embeddings e CROSS JOIN q),
        ranked AS (
          SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM scored)
        SELECT q_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 10
    """

    dedup_jaccard = """
        WITH sh AS (
          SELECT doc_id,
                 list_distinct([array_to_string(toks[i:i+2], ' ')
                                FOR i IN range(1, greatest(len(toks)-2, 1)+1)]) AS s
          FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          WHERE doc_id < 300)
        SELECT id_a, id_b, round(j, 6) AS jaccard FROM (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        WHERE j >= 0.03
    """

    # trajectory parts: event positions via the same LCG derive
    # (id_expr=event_id), legs = lag-window sqrt (raw-double comparable),
    # summed quantities micro-quantized BEFORE the sum
    _od_cell = H.morton_sql(
        f"({H.quantize_sql('x', H.CFG.min_x, H.CFG.width, H.OD_RES)})",
        f"({H.quantize_sql('y', H.CFG.min_y, H.CFG.height, H.OD_RES)})",
        H.OD_RES)
    events_sessionize = f"""
        WITH ev AS (
          SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS te,
                 {derive.x_sql('event_id')} AS x,
                 {derive.y_sql('event_id')} AS y
          FROM events),
        flagged AS (
          SELECT user_id, event_id, te,
                 CASE WHEN te - lag(te) OVER w > 1800
                      OR lag(te) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY te, event_id)),
        sess AS (
          SELECT user_id, te,
                 CAST(sum(new_s) OVER (PARTITION BY user_id
                      ORDER BY te, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
          FROM flagged),
        legs AS (
          SELECT user_id, event_id, te, x, y,
                 {H.dist_sql('x', 'y', 'lag(x) OVER w', 'lag(y) OVER w')}
                   AS leg,
                 row_number() OVER w AS rn_a,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY te DESC, event_id DESC) AS rn_d
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY te, event_id)),
        trav AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS a,
                 CAST(COALESCE(sum(CAST(round(leg * 1000000.0) AS BIGINT)),
                               0) AS BIGINT) AS b,
                 CAST(COALESCE(CAST(round(max(leg) * 1000000.0) AS BIGINT),
                               0) AS BIGINT) AS c,
                 CAST(round({H.dist_sql(
                     'max(CASE WHEN rn_a = 1 THEN x END)',
                     'max(CASE WHEN rn_a = 1 THEN y END)',
                     'max(CASE WHEN rn_d = 1 THEN x END)',
                     'max(CASE WHEN rn_d = 1 THEN y END)')}
                     * 1000000.0) AS BIGINT) AS d
          FROM legs GROUP BY user_id),
        isl AS (
          SELECT user_id, te, x, y,
                 CAST(sum(CASE WHEN leg IS NULL OR leg > {H.STAY_EPS!r}
                          THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY te, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
          FROM legs),
        stays AS (
          SELECT user_id, island AS a,
                 CAST(count(*) AS BIGINT) AS b,
                 min(te) AS c, max(te) AS d,
                 CAST(sum(CAST(round(x * 1000000.0) AS BIGINT))
                      AS BIGINT) AS e,
                 CAST(sum(CAST(round(y * 1000000.0) AS BIGINT))
                      AS BIGINT) AS f
          FROM isl GROUP BY user_id, island
          HAVING max(te) - min(te) >= {H.STAY_DUR} AND count(*) >= 2),
        cp_flag AS (
          SELECT user_id, event_id, te,
                 CASE WHEN te - lag(te) OVER w > {H.CP_GAP}
                      OR lag(te) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY te, event_id)),
        cp_iv AS (
          SELECT user_id, min(te) AS t0, max(te) AS t1
          FROM (SELECT user_id, te,
                       CAST(sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY te, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sidx
                FROM cp_flag) cs
          GROUP BY user_id, sidx)
        SELECT 'session' AS part, user_id, session_idx AS a,
               count(*) AS b, min(te) AS c, max(te) AS d,
               CAST(0 AS BIGINT) AS e, CAST(0 AS BIGINT) AS f
        FROM sess GROUP BY user_id, session_idx
        UNION ALL
        SELECT 'travel', user_id, a, b, c, d,
               CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM trav
        UNION ALL
        SELECT 'stay', user_id, a, b, c, d, e, f FROM stays
        UNION ALL
        SELECT 'contact', ua AS user_id, ub AS a,
               CAST(count(*) AS BIGINT) AS b,
               min(least(a_te, b_te)) AS c,
               max(greatest(a_te, b_te)) AS d,
               min(CAST(round(dist * 1000000.0) AS BIGINT)) AS e,
               CAST(0 AS BIGINT) AS f
        FROM (
          SELECT least(a.user_id, b.user_id) AS ua,
                 greatest(a.user_id, b.user_id) AS ub,
                 a.te AS a_te, b.te AS b_te,
                 {H.dist_sql('a.x', 'a.y', 'b.x', 'b.y')} AS dist
          FROM (SELECT * FROM ev WHERE event_id < {H.COLOC_N}) a
          JOIN (SELECT * FROM ev WHERE event_id < {H.COLOC_N}) b
            ON a.event_id < b.event_id AND a.user_id <> b.user_id
          WHERE abs(a.te - b.te) <= {H.COLOC_TAU}
            AND {H.dist_sql('a.x', 'a.y', 'b.x', 'b.y')}
                <= {H.COLOC_EPS!r}) cp
        GROUP BY ua, ub
        UNION ALL
        SELECT 'overlap', ua AS user_id, ub AS a,
               CAST(count(*) AS BIGINT) AS b,
               min(ostart) AS c, max(oend) AS d,
               CAST(sum(oend - ostart) AS BIGINT) AS e,
               CAST(0 AS BIGINT) AS f
        FROM (
          SELECT a.user_id AS ua, b.user_id AS ub,
                 greatest(a.t0, b.t0) AS ostart,
                 least(a.t1, b.t1) AS oend
          FROM cp_iv a JOIN cp_iv b
            ON a.user_id < b.user_id
           AND greatest(a.t0, b.t0) <= least(a.t1, b.t1)) op
        GROUP BY ua, ub
        UNION ALL
        SELECT 'od', cell_from AS user_id, cell_to AS a,
               CAST(count(*) AS BIGINT) AS b,
               CAST(count(DISTINCT user_id) AS BIGINT) AS c,
               CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS e,
               CAST(0 AS BIGINT) AS f
        FROM (
          SELECT user_id,
                 lag(cell) OVER (PARTITION BY user_id
                                 ORDER BY te, event_id) AS cell_from,
                 cell AS cell_to
          FROM (SELECT user_id, event_id, te,
                       {_od_cell} AS cell
                FROM ev) ec) tr
        WHERE cell_from IS NOT NULL
        GROUP BY cell_from, cell_to
    """

    agg_stats = """
        WITH c AS (SELECT event_type, value,
                          CAST(round(value * 100) AS BIGINT) AS v
                   FROM events)
        SELECT event_type, count(*) AS n,
               CAST(sum(v) AS BIGINT) AS sum_c,
               CAST(sum(v * v) AS BIGINT) AS sumsq_c,
               min(v) AS min_c, max(v) AS max_c,
               round(quantile_cont(value, 0.25), 6) AS p25,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.9), 6) AS p90,
               round(quantile_cont(value, 0.99), 6) AS p99,
               round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_c
        FROM c GROUP BY event_type
    """

    embedding_near_dups = """
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 50000, embedding FROM embeddings WHERE vec_id < 8)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                              a.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]))), 6) AS cos
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                    / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                             a.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]))), 6) >= 0.999
    """

    # the sketch is order-INsensitive over the token multiset, so the oracle
    # for hamming-0 is sorted-token-multiset equality (token permutations of
    # the same text share a sketch), not raw-text equality
    simhash_h0 = """
        WITH corpus AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 80
          UNION ALL
          SELECT doc_id + 30000, text FROM documents WHERE doc_id < 80),
        keyed AS (
          SELECT doc_id,
                 md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
                 AS mk
          FROM corpus)
        SELECT 'h0' AS part, a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(0 AS BIGINT) AS hamming
        FROM keyed a JOIN keyed b
          ON a.doc_id < b.doc_id AND a.mk = b.mk
    """

    # simhash_md5_pairs: rebuild each 60-bit md5-family sketch bit-by-bit
    # from the md5 hex nibbles (bit b ← hex position 15 - b//4, bit b%4 of
    # the nibble; set iff Σ±1 over tokens > 0 — ties → 0, exactly the
    # sketch UDF's sign rule), then replay the shared-chunk candidate rule
    # and the hamming verify.
    _hex = "strpos('0123456789abcdef', substr(m, {pos}, 1)) - 1"
    _bits = " + ".join(
        "CASE WHEN SUM((((" + _hex.format(pos=15 - b // 4)
        + f") // {1 << (b % 4)}) % 2) * 2 - 1) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(60))
    # replay the engine's adaptive chunk boundaries (max_hamming=6 → 7
    # chunks): chunk c shared ⇔ those xor bits are all zero
    from mbrngq_spark.operators.dedup import simhash_chunk_bounds
    _sb = simhash_chunk_bounds(6)
    _chunk_shared = " OR ".join(
        f"((xor(a.s, b.s) // {1 << _sb[c]}) % {1 << (_sb[c + 1] - _sb[c])}"
        f" = 0)"
        for c in range(len(_sb) - 1))
    simhash_dups = f"""
        {simhash_h0}
        UNION ALL
        SELECT 'md5', id_a, id_b, hamming FROM (
        WITH corpus2 AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + 30000, text FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id + 40000, 'zzz' || substr(text, 4)
          FROM documents WHERE doc_id < 60),
        tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus2),
        h AS (SELECT doc_id, md5(t) AS m FROM tok),
        sk AS (SELECT doc_id, {_bits} AS s FROM h GROUP BY doc_id)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
        FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 6 AND ({_chunk_shared}))
    """

    # text_langid: the trigram-profile scorer is pure counting, so the
    # oracle recomputes it relationally — per-language score = Σ
    # non-overlapping occurrence counts of its 10 trigrams (length-replace
    # trick) on lower(text); winner = FIRST language (profile order)
    # reaching the max, 'und' when all scores are 0 — exactly
    # np.argmax's first-max semantics in text.lang_id_udf.
    from mbrngq_spark.operators.text import _PROFILES as _LP

    def _lang_score(lang: str) -> str:
        terms = []
        for tri in _LP[lang]:
            esc = tri.replace("'", "''")
            terms.append(f"((length(t) - length(replace(t, '{esc}', '')))"
                         f" // {len(tri)})")
        return " + ".join(terms)

    _langs = list(_LP)
    _score_sel = ", ".join(f"({_lang_score(lg)}) AS s_{lg}" for lg in _langs)
    _cases = []
    for i, lg in enumerate(_langs):
        conds = " AND ".join(f"s_{lg} >= s_{other}"
                             for other in _langs[i + 1:]) or "TRUE"
        _cases.append(f"WHEN {conds} THEN '{lg}'")
    _case_tail = "\n            ".join(_cases[:-1])
    text_langid = f"""
        WITH scores AS (
          SELECT doc_id, {_score_sel}
          FROM (SELECT doc_id, lower(text) AS t FROM documents))
        SELECT doc_id,
          CASE
            WHEN greatest({', '.join('s_' + lg for lg in _langs)}) = 0
              THEN 'und'
            {_case_tail}
            ELSE '{_langs[-1]}'
          END AS lang_pred
        FROM scores
    """

    # ann_lsh_topk: the oracle replays the engine's LSH semantics exactly —
    # same hyperplane float64 literals (similarity._hyperplanes(64, 8, 42)),
    # same sign-bucket encoding, same 37 multiprobe masks (radius 2), same
    # exact scoring of candidates. 6-dp cosine rounding matches the engine
    # (precedent: ann_cosine_topk hash-matches with list_dot_product).
    import itertools as _it

    from mbrngq_spark.operators.similarity import _hyperplanes
    _planes = _hyperplanes(64, 8, 42)
    _bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in _planes[b])
        + "]) > 0 THEN {} ELSE 0 END)".format(1 << b)
        for b in range(8))
    _masks = [0] + [sum(1 << b for b in bits)
                    for r in (1, 2)
                    for bits in _it.combinations(range(8), r)]
    ann_lsh_topk = f"""
        WITH eb AS (
          SELECT vec_id, v, ({_bucket}) AS bucket
          FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)),
        q AS (SELECT vec_id AS q_id, v AS qv, bucket AS q_bucket
              FROM eb WHERE vec_id < 4),
        probes AS (
          SELECT q_id, qv, xor(q_bucket, m.m) AS bucket
          FROM q CROSS JOIN (SELECT unnest({_masks}) AS m) m),
        cand AS (
          SELECT p.q_id, eb.vec_id,
                 round(list_dot_product(eb.v, p.qv)
                       / (sqrt(list_dot_product(eb.v, eb.v))
                          * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos
          FROM eb JOIN probes p ON eb.bucket = p.bucket),
        ranked AS (
          SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM cand)
        SELECT q_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 10
    """

    # ann_ivf_topk: the oracle replays pivot-IVF exactly — pivots are the 16
    # lowest-id embedding rows; assignment/probing rank pivots by
    # round(-cos, 6) with pivot-id ties (row_number), matching the engine's
    # array_min/array_sort over (negc, pid) structs.
    _cosp = ("round(-(list_dot_product(e.v, p.pv)"
             " / (sqrt(list_dot_product(e.v, e.v))"
             " * sqrt(list_dot_product(p.pv, p.pv)))), 6)")
    ann_ivf_topk = f"""
        WITH eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pivots AS (SELECT vec_id AS pid, v AS pv FROM eb
                   ORDER BY vec_id LIMIT 16),
        pscore AS (
          SELECT e.vec_id, {_cosp} AS negc, p.pid
          FROM eb e CROSS JOIN pivots p),
        assign AS (
          SELECT vec_id, pid AS pivot FROM (
            SELECT vec_id, pid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY negc, pid) AS rn
            FROM pscore) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS q_id, pid AS pivot FROM (
            SELECT vec_id, pid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY negc, pid) AS rn
            FROM pscore WHERE vec_id < 4) WHERE rn <= 4),
        cand AS (
          SELECT pr.q_id, a.vec_id,
                 round(list_dot_product(e.v, q.v)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(q.v, q.v))), 6) AS cos
          FROM assign a
          JOIN probes pr ON a.pivot = pr.pivot
          JOIN eb e ON e.vec_id = a.vec_id
          JOIN eb q ON q.vec_id = pr.q_id),
        ranked AS (
          SELECT q_id, vec_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, vec_id ASC) AS rnk
          FROM cand)
        SELECT q_id, vec_id, cos, rnk FROM ranked WHERE rnk <= 10
    """

    # one gate, three tagged tiers — schemas already identical
    ann_topk = f"""
        SELECT 'exact' AS method, q_id, vec_id, cos, rnk
        FROM ({ann_cosine_topk})
        UNION ALL
        SELECT 'lsh', q_id, vec_id, cos, rnk FROM ({ann_lsh_topk})
        UNION ALL
        SELECT 'ivf', q_id, vec_id, cos, rnk FROM ({ann_ivf_topk})
        UNION ALL
        SELECT 'pq', q_id, vec_id, CAST(adist AS DOUBLE) AS cos, rnk
        FROM ({similarity.pq_adc_sql()})
    """

    agg_pricing = """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
               count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """

    join_orders_nation = """
        SELECT n.n_name, count(*) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    """

    set_ops = """
        SELECT 'with' AS tag, k FROM (
          SELECT c_custkey AS k FROM customer
          INTERSECT
          SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'without', k FROM (
          SELECT c_custkey AS k FROM customer
          EXCEPT
          SELECT o_custkey FROM orders)
    """

    join_outer = """
        WITH agg AS (
          SELECT o_orderpriority, count(*) AS n_orders
          FROM orders GROUP BY 1),
        dim(o_orderpriority, sla_hours) AS (VALUES
          ('1-URGENT', CAST(24 AS BIGINT)),
          ('2-HIGH', CAST(48 AS BIGINT)),
          ('9-PHANTOM', CAST(1 AS BIGINT)))
        SELECT coalesce(agg.o_orderpriority, dim.o_orderpriority, '?')
                 AS priority,
               CAST(coalesce(agg.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(coalesce(dim.sla_hours, -1) AS BIGINT) AS sla_hours
        FROM agg FULL OUTER JOIN dim
          ON agg.o_orderpriority = dim.o_orderpriority
    """

    sql_relational = f"""
        SELECT 'sets' AS part, tag AS key, CAST(k AS BIGINT) AS a,
               CAST(-1 AS BIGINT) AS b
        FROM ({set_ops}) s
        UNION ALL
        SELECT 'outer', priority, n_orders, sla_hours
        FROM ({join_outer}) o
    """

    # text_quality_clf: the oracle cannot iterate in SQL, so (the
    # bpe_train discipline) it carries the NumPy reference trainer's
    # weights — bit-equal to the distributed trainer's by the quantized-
    # gradient construction — as literals, and replays sigmoid(w·x)
    # scoring over the documents table from those literals
    from mbrngq_spark.operators import quality as Qm
    _qc_w = Qm.train_quality_reference(Qm.quality_fixture())
    _qc_wvals = ", ".join(
        f"(CAST({j} AS BIGINT), CAST({round(wj, 6)!r} AS DOUBLE))"
        for j, wj in enumerate(_qc_w))
    text_quality_clf = f"""
        SELECT 'weight' AS part, id, value
        FROM (VALUES {_qc_wvals}) w(id, value)
        UNION ALL
        SELECT 'score', CAST(doc_id AS BIGINT),
               {Qm.quality_score_sql('text', _qc_w)}
        FROM documents
        UNION ALL
        SELECT 'ppl', CAST(doc_id AS BIGINT), avg_logp
        FROM ({text.perplexity_sql("documents")}) px
    """

    # cardinality_sketch: DuckDB rebuilds the identical HLL register
    # state (md5 register + leading-zero rank) and the identical
    # int64-exact estimate; the 'merged' part is recomputed DIRECTLY
    # from raw rows, so a hash match proves Spark's register-wise merge
    # of per-type sketches equals the sketch of the whole stream
    # (SKm imported above, cell_pyramid section)
    _sk_reg, _sk_rho = SKm.hll_register_sql("user_id")
    cardinality_sketch = f"""
        SELECT 'reg' AS part, event_type AS key, register AS id, a,
               CAST(-1.0 AS DOUBLE) AS value
        FROM (
            SELECT event_type, {_sk_reg} AS register, max({_sk_rho}) AS a
            FROM events GROUP BY 1, 2
        ) r
        UNION ALL
        SELECT 'est_users', key, CAST(-1 AS BIGINT), n_registers, estimate
        FROM ({SKm.hll_estimate_sql("events", "event_type",
                                    "user_id", "key")}) eu
        UNION ALL
        SELECT 'est_parts', key, CAST(-1 AS BIGINT), n_registers, estimate
        FROM ({SKm.hll_estimate_sql("lineitem", "l_returnflag",
                                    "l_partkey", "key")}) ep
        UNION ALL
        SELECT 'merged', key, CAST(-1 AS BIGINT), n_registers, estimate
        FROM ({SKm.hll_estimate_sql("events", "'all'",
                                    "user_id", "key")}) em
        UNION ALL
        SELECT 'cm_reg', key, row * {SKm.CM_W} + col, cnt,
               CAST(-1.0 AS DOUBLE)
        FROM ({SKm.cm_counters_sql("events", "event_type", "user_id")}) cr
        UNION ALL
        SELECT 'cm_est', key, item, est, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.cm_query_sql(
            SKm.cm_counters_sql("events", "event_type", "user_id"),
            "SELECT DISTINCT event_type AS key, u AS item FROM events, "
            "(SELECT unnest(generate_series(0, 11)) AS u)")}) cq
        UNION ALL
        SELECT 'cm_merged', key, row * {SKm.CM_W} + col, cnt,
               CAST(-1.0 AS DOUBLE)
        FROM ({SKm.cm_counters_sql("events", "'all'", "user_id")}) cm
        UNION ALL
        SELECT 'bf_reg', key, word, bits, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.bf_build_sql("events", "event_type", "user_id")}) br
        UNION ALL
        SELECT 'bf_member', key, item, member, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.bf_member_sql(
            SKm.bf_build_sql("events", "event_type", "user_id"),
            "SELECT DISTINCT event_type AS key, u AS item FROM events, "
            "(SELECT unnest(generate_series(0, 11)) AS u)")}) bm
        UNION ALL
        SELECT 'bf_merged', key, word, bits, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.bf_build_sql("events", "'all'", "user_id")}) bg
        UNION ALL
        SELECT 'qh_reg', key, bin, cnt, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.qh_sketch_sql("events", "event_type", "value",
                                 0.0, 500.0)}) qr
        UNION ALL
        SELECT 'qh_est', key, CAST(round(q * 100) AS BIGINT),
               CAST(-1 AS BIGINT), est
        FROM ({SKm.qh_quantiles_sql(
            SKm.qh_sketch_sql("events", "event_type", "value", 0.0, 500.0),
            [0.25, 0.5, 0.9, 0.99], 0.0, 500.0)}) qe
        UNION ALL
        SELECT 'qh_merged', key, bin, cnt, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.qh_sketch_sql("events", "'all'", "value",
                                 0.0, 500.0)}) qg
        UNION ALL
        SELECT 'kmv_reg', key, rk, h, CAST(-1.0 AS DOUBLE)
        FROM ({SKm.kmv_sketch_sql("events", "event_type", "user_id")}) kr
        UNION ALL
        SELECT 'kmv_est', key, CAST(-1 AS BIGINT), n_sample, estimate
        FROM ({SKm.kmv_estimate_sql(
            SKm.kmv_sketch_sql("events", "event_type", "user_id"))}) ke
        UNION ALL
        SELECT 'kmv_small', key, CAST(-1 AS BIGINT), n_sample, estimate
        FROM ({SKm.kmv_estimate_sql(
            SKm.kmv_sketch_sql("lineitem", "l_returnflag",
                               "l_linenumber"))}) ks
        UNION ALL
        SELECT 'kmv_merged', key, CAST(-1 AS BIGINT), n_sample, estimate
        FROM ({SKm.kmv_estimate_sql(
            SKm.kmv_sketch_sql("events", "'all'", "user_id"))}) km
        UNION ALL
        SELECT 'kmv_inter', key_a || '|' || key_b, CAST(-1 AS BIGINT),
               n_common, estimate
        FROM ({SKm.kmv_intersect_pairs_sql(
            SKm.kmv_sketch_sql("events", "event_type", "user_id"))}) ki
        UNION ALL
        SELECT 'kmv_jaccard', key_a || '|' || key_b, CAST(-1 AS BIGINT),
               n_common, jaccard
        FROM ({SKm.kmv_pair_stats_sql(
            SKm.kmv_sketch_sql("events", "event_type", "user_id"))}) kj
    """

    calendar_rollup = """
        SELECT 'month' AS part,
               substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS bucket,
               '' AS key, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_c
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'hour',
               CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS VARCHAR),
               event_type, count(*),
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        FROM events GROUP BY 2, 3
    """

    window_top_orders = """
        SELECT o_custkey, o_orderkey, rn FROM (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey ASC)
                 AS rn
          FROM orders) WHERE rn <= 3
    """

    # corpus_sample: identical md5 unit + per-stratum thresholds
    _su = ("(ascii(substr(md5(doc_id || '/s1'), 1, 1)) * 17161"
           " + ascii(substr(md5(doc_id || '/s1'), 2, 1)) * 131"
           " + ascii(substr(md5(doc_id || '/s1'), 3, 1))) % 1000")
    corpus_sample = f"""
        SELECT doc_id, source FROM documents
        WHERE {_su} < CASE source WHEN 'src0' THEN 0
                                  WHEN 'src1' THEN 250
                                  WHEN 'src2' THEN 500
                                  ELSE 1000 END
    """

    # events_asof: DuckDB's native ASOF LEFT JOIN is the canonical oracle
    # for the union+window as-of implementation (event timestamps are
    # unique per user, so no tiebreak ambiguity crosses engines)
    events_asof = """
        WITH clicks AS (
          SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click'),
        views AS (
          SELECT event_id AS view_id, user_id, ts, value
          FROM events WHERE event_type = 'view')
        SELECT c.click_id, c.user_id, v.view_id,
               CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us,
               CAST(round(v.value * 100) AS BIGINT) AS value_c
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
    """

    # text_pii: RE2 recount of the planted-PII corpus (patterns restricted
    # to the Java-regex ∩ RE2 common subset — see text.PII_PATTERNS)
    from mbrngq_spark.operators.text import PII_PATTERNS as _PII

    def _pii_count(pat: str) -> str:
        esc = pat.replace("'", "''")
        return f"CAST(length(regexp_extract_all(text, '{esc}')) AS BIGINT)"

    text_pii = f"""
        WITH planted AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 3 = 0
                    THEN ' contact doc' || doc_id || '@example.com now'
                    ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                    THEN ' call +12-555-' || (1000 + doc_id % 9000)
                    ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                    THEN ' from 10.0.' || (doc_id % 256) || '.7'
                    ELSE '' END AS text
          FROM documents)
        SELECT doc_id,
               {_pii_count(_PII['email'])} AS n_email,
               {_pii_count(_PII['phone'])} AS n_phone,
               {_pii_count(_PII['ipv4'])} AS n_ipv4
        FROM planted
    """

    # media_features: the Spark side emits DECODED dims/durations (they
    # exist only because the BMP/WAV/AVI encoders and decoders round-trip);
    # the oracle recomputes the same values from the md5-hex meta formulas
    # of multimodal.media_meta_col — md5 hex is bit-identical across
    # engines, so this value-checks the whole binary pipeline.
    def _seed(salt: str) -> str:
        return (f"ascii(substr(md5(media_ref || '{salt}'),1,1))*131"
                f" + ascii(substr(md5(media_ref || '{salt}'),2,1))")

    media_features = f"""
        WITH refs AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                 'ref://' || doc_id AS media_ref
          FROM documents WHERE doc_id < 300),
        seeds AS (
          SELECT doc_id, media_ref, kind,
                 {_seed('/w')} AS sw, {_seed('/h')} AS sh,
                 {_seed('/d')} AS sd, {_seed('/v')} AS sv
          FROM refs)
        SELECT doc_id, media_ref, kind,
          CAST(CASE WHEN kind IN ('image','video') THEN 16 + sw % 48
                    ELSE 0 END AS BIGINT) AS width_px,
          CAST(CASE WHEN kind IN ('image','video') THEN 16 + sh % 48
                    ELSE 0 END AS BIGINT) AS height_px,
          CAST(CASE kind WHEN 'audio' THEN 1000 + sd % 9000
                         WHEN 'video' THEN 100 * (1 + sv % 30)
                         ELSE 0 END AS BIGINT) AS duration_ms,
          CAST(16 AS BIGINT) AS n_features
        FROM seeds
    """

    # text_bm25: full relational BM25 recomputation — token tf, per-term
    # df, dl/avgdl, the 6dp-rounded idf, the same k1/b constants, ranked
    # with the same (score desc, doc_id) tiebreak
    text_bm25 = """
        WITH dls AS (
          SELECT doc_id,
                 len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
          FROM documents),
        stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dls),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tfs AS (SELECT term, doc_id, count(*) AS tf FROM toks
                WHERE term <> '' GROUP BY 1, 2),
        dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
                WHERE term <> '' GROUP BY 1),
        q AS (SELECT doc_id AS q_id,
                     array_to_string((string_split(text, ' '))[1:5], ' ')
                     AS q_text
              FROM documents WHERE doc_id < 4),
        qts AS (SELECT q_id, term, count(*) AS qtf FROM (
                  SELECT q_id, unnest(string_split(q_text, ' ')) AS term
                  FROM q) WHERE term <> '' GROUP BY 1, 2),
        scored AS (
          SELECT qts.q_id, tfs.doc_id,
                 round(sum(qts.qtf
                           * round(ln(1 + (stats.n - dfs.df + 0.5)
                                      / (dfs.df + 0.5)), 6)
                           * tfs.tf * (1.2 + 1)
                           / (tfs.tf + 1.2 * (1 - 0.75
                                              + 0.75 * dls.dl / stats.avgdl))),
                       6) AS score
          FROM qts
          JOIN tfs USING (term)
          JOIN dfs USING (term)
          JOIN dls ON tfs.doc_id = dls.doc_id
          CROSS JOIN stats
          GROUP BY 1, 2)
        SELECT q_id, doc_id, score, CAST(rnk AS BIGINT) AS rnk FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY score DESC, doc_id) AS rnk
          FROM scored)
        WHERE rnk <= 10
    """

    # geo_knn: oracle = EXHAUSTIVE haversine scan (identical formula
    # shape: sign-safe wrap, asin-of-sqrt, 2dp rounding, doc_id ties) —
    # the engine's cell pruning must be lossless to match
    _geoq = ", ".join(
        f"(CAST({qid} AS BIGINT), CAST({la} AS DOUBLE), "
        f"CAST({lo} AS DOUBLE))" for qid, la, lo in GEO_QUERIES)
    _hav = ("2 * 6371000.0 * asin(least(1.0, sqrt("
            "pow(sin(radians(ll.lat - q.qlat) / 2), 2)"
            " + cos(radians(q.qlat)) * cos(radians(ll.lat))"
            " * pow(sin(radians(fmod(ll.lon - q.qlon + 540.0, 360.0)"
            " - 180.0) / 2), 2))))")
    geo_knn = f"""
        WITH g AS ({geo}),
        ll AS (SELECT doc_id, y * 1.8 - 90.0 AS lat,
                      x * 3.6 - 180.0 AS lon FROM g),
        q(query_id, qlat, qlon) AS (VALUES {_geoq}),
        scored AS (
          SELECT q.query_id, ll.doc_id, round({_hav}, 2) AS dist_m
          FROM ll CROSS JOIN q)
        SELECT query_id, doc_id, dist_m, CAST(rnk AS BIGINT) AS rnk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY dist_m, doc_id) AS rnk
          FROM scored)
        WHERE rnk <= 10
    """

    # corpus_decontam: 6-gram shingles + the same eval-span derivation,
    # flagged docs with distinct-hit counts and sorted matched eval ids
    _sh6 = ("unnest(list_distinct([array_to_string(toks[i:i+5], ' ') "
            "FOR i IN range(1, greatest(len(toks)-5, 1)+1)]))")
    corpus_decontam = f"""
        WITH ev AS (
          SELECT doc_id + 9000 AS eval_id,
                 array_to_string((string_split(text, ' '))[3:12], ' ')
                 AS text
          FROM documents WHERE doc_id < 10),
        evsh AS (
          SELECT DISTINCT eval_id, {_sh6} AS sh
          FROM (SELECT eval_id, string_split(text, ' ') AS toks FROM ev)),
        trsh AS (
          SELECT doc_id, {_sh6} AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents)),
        j AS (SELECT t.doc_id, t.sh, e.eval_id
              FROM trsh t JOIN evsh e USING (sh))
        SELECT doc_id, count(DISTINCT sh) AS n_hits,
               array_to_string(list_sort(list_distinct(list(eval_id)))[1:3],
                               ',') AS eval_ids
        FROM j GROUP BY doc_id
    """

    geo_range = f"""
        WITH g AS ({geo}),
        ll AS (SELECT doc_id, y * 1.8 - 90.0 AS lat,
                      x * 3.6 - 180.0 AS lon FROM g),
        q(query_id, qlat, qlon) AS (VALUES {_geoq})
        SELECT q.query_id, ll.doc_id, round({_hav}, 2) AS dist_m
        FROM ll CROSS JOIN q
        WHERE round({_hav}, 2) <= 500000.0
    """

    events_pivot = f"""
        SELECT user_id,
               {', '.join(f"CAST(count(*) FILTER (event_type = '{t}') "
                          f"AS BIGINT) AS n_{t}" for t in EVENT_TYPES)}
        FROM events GROUP BY user_id
    """

    snapshot_roundtrip = """
        SELECT doc_id,
               md5(CASE WHEN doc_id >= 400 THEN 'v2 ' || text
                        ELSE text END) AS text_md5
        FROM documents
        WHERE doc_id % 7 <> 0
    """

    _hav_ab = ("2 * 6371000.0 * asin(least(1.0, sqrt("
               "pow(sin(radians(b.lat - a.lat) / 2), 2)"
               " + cos(radians(a.lat)) * cos(radians(b.lat))"
               " * pow(sin(radians(fmod(b.lon - a.lon + 540.0, 360.0)"
               " - 180.0) / 2), 2))))")
    from mbrngq_spark.operators.geodetic import geodetic_polyline_dist_sql
    _corr_sel = " UNION ALL ".join(
        f"SELECT CAST({lid} AS BIGINT) AS a_id,"
        f" CAST(doc_id AS BIGINT) AS b_id,"
        f" round({geodetic_polyline_dist_sql('px', 'py', 'pz', 'lat', 'lon', vlat, vlon)}, 2) AS dm"
        f" FROM pv"
        for lid, vlat, vlon in GEO_LINES)
    _ghav = ("2 * 6371000.0 * asin(least(1.0, sqrt("
             "pow(sin(radians(b.lat - a.lat) / 2), 2)"
             " + cos(radians(a.lat)) * cos(radians(b.lat))"
             " * pow(sin(radians(fmod(b.lon - a.lon + 540.0, 360.0)"
             " - 180.0) / 2), 2))))")
    geo_pairs = f"""
        WITH RECURSIVE g AS ({geo}),
        ll AS (SELECT doc_id, y * 1.8 - 90.0 AS lat,
                      x * 3.6 - 180.0 AS lon
               FROM g WHERE doc_id < 250),
        llf AS (SELECT doc_id, y * 1.8 - 90.0 AS lat,
                       x * 3.6 - 180.0 AS lon FROM g),
        cev AS (SELECT user_id, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT) AS te,
                       ({derive.y_sql('event_id')}) * 1.8 - 90.0 AS lat,
                       ({derive.x_sql('event_id')}) * 3.6 - 180.0 AS lon
                FROM events WHERE event_id < {H.COLOC_N}),
        pv AS (SELECT doc_id, lat, lon,
                      cos(radians(lat)) * cos(radians(lon)) AS px,
                      cos(radians(lat)) * sin(radians(lon)) AS py,
                      sin(radians(lat)) AS pz
               FROM llf),
        gpr AS (
          SELECT a.doc_id AS pa, b.doc_id AS pb
          FROM llf a JOIN llf b ON a.doc_id <> b.doc_id
          WHERE round({_ghav}, 2) <= {GEO_DBSCAN_EPS_M!r}),
        gcores AS (
          SELECT pa AS id FROM gpr GROUP BY pa
          HAVING count(*) + 1 >= {GEO_DBSCAN_MINPTS}),
        gce AS (
          SELECT gpr.pa AS u, gpr.pb AS v FROM gpr
          JOIN gcores ca ON gpr.pa = ca.id
          JOIN gcores cb ON gpr.pb = cb.id),
        greach(id, r) AS (
          SELECT id, id FROM gcores
          UNION
          SELECT e.v, greach.r FROM greach JOIN gce e ON greach.id = e.u),
        gcomp AS (SELECT id, min(r) AS comp FROM greach GROUP BY id)
        SELECT 'pairs' AS part, a.doc_id AS a_id, b.doc_id AS b_id,
               round({_hav_ab}, 2) AS dist_m
        FROM ll a JOIN ll b ON a.doc_id < b.doc_id
        WHERE round({_hav_ab}, 2) <= 800000.0
        UNION ALL
        SELECT 'corridor', a_id, b_id, dm FROM (
          {_corr_sel}
        ) cj WHERE dm <= {GEO_LINE_RADIUS_M!r}
        UNION ALL
        SELECT 'cluster', CAST(gcomp.id AS BIGINT),
               CAST(gcomp.comp AS BIGINT), CAST(1.0 AS DOUBLE)
        FROM gcomp
        UNION ALL
        SELECT 'cluster', CAST(gpr.pa AS BIGINT),
               CAST(min(gcomp.comp) AS BIGINT), CAST(0.0 AS DOUBLE)
        FROM gpr JOIN gcomp ON gcomp.id = gpr.pb
        WHERE gpr.pa NOT IN (SELECT id FROM gcores)
        GROUP BY gpr.pa
        UNION ALL
        SELECT 'contact', CAST(a.event_id AS BIGINT),
               CAST(b.event_id AS BIGINT), round({_ghav}, 2)
        FROM cev a JOIN cev b
          ON a.event_id < b.event_id AND a.user_id <> b.user_id
        WHERE round({_ghav}, 2) <= {H.GEO_COLOC_EPS_M!r}
          AND abs(a.te - b.te) <= {H.COLOC_TAU}
    """

    # geo_ngq: exhaustive fixed-L NGQ on the sphere — per-category top-L
    # truncation by (2dp-rounded haversine, doc_id), full L^3 enumeration,
    # score = greatest(rounded pairwise member haversine) + least(dq),
    # (score, id-tuple) order — replaying geodetic_nearest_group's
    # contract with the reference GetGroupMinDist semantics
    def _havm(a: str, b: str) -> str:
        return (f"2 * 6371000.0 * asin(least(1.0, sqrt("
                f"pow(sin(radians({b}.lat - {a}.lat) / 2), 2)"
                f" + cos(radians({a}.lat)) * cos(radians({b}.lat))"
                f" * pow(sin(radians(fmod({b}.lon - {a}.lon + 540.0, 360.0)"
                f" - 180.0) / 2), 2))))")

    _gL, _gK = 6, 5

    def _geo_cat(c: int) -> str:
        return (f"c{c} AS (SELECT * FROM ("
                f"SELECT query_id, doc_id, lat, lon, dq, "
                f"row_number() OVER (PARTITION BY query_id "
                f"ORDER BY dq, doc_id) AS rn "
                f"FROM cand WHERE category = {c}) WHERE rn <= {_gL})")

    _gpairs = [f"round({_havm(f'c{i}', f'c{j}')}, 2)"
               for i, j in _it.combinations(range(3), 2)]
    geo_ngq = f"""
        WITH g AS ({geo}),
        ll AS (SELECT doc_id, category, y * 1.8 - 90.0 AS lat,
                      x * 3.6 - 180.0 AS lon FROM g),
        q(query_id, qlat, qlon) AS (VALUES {_geoq}),
        cand AS (
          SELECT q.query_id, ll.doc_id, ll.category, ll.lat, ll.lon,
                 round({_hav}, 2) AS dq
          FROM ll CROSS JOIN q),
        {_geo_cat(0)}, {_geo_cat(1)}, {_geo_cat(2)},
        grp AS (
          SELECT c0.query_id, c0.doc_id AS id0, c1.doc_id AS id1,
                 c2.doc_id AS id2,
                 greatest({", ".join(_gpairs)})
                 + least(c0.dq, c1.dq, c2.dq) AS score
          FROM c0
          JOIN c1 ON c0.query_id = c1.query_id
          JOIN c2 ON c1.query_id = c2.query_id),
        ranked AS (
          SELECT query_id, id0, id1, id2, score,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY score, id0, id1, id2)
                 AS group_rank
          FROM grp)
        SELECT query_id, group_rank,
               concat_ws(',', CAST(id0 AS VARCHAR), CAST(id1 AS VARCHAR),
                         CAST(id2 AS VARCHAR)) AS members,
               round(score, 2) AS min_dist
        FROM ranked WHERE group_rank <= {_gK}
    """

    # bpe_train: the oracle cannot train in SQL — it carries the
    # pure-Python reference trainer's merge sequence over the SAME
    # deterministic fixture corpus as literals, and replays token counts
    # with the replace chain generated from ITS learned table
    from mbrngq_spark.operators.text import (bpe_train_fixture,
                                             train_bpe_bytes_reference,
                                             train_bpe_reference)
    _fixture = bpe_train_fixture()
    _exp_merges = train_bpe_reference(dict(_fixture), BPE_TRAIN_MERGES)
    _exp_bytes = train_bpe_bytes_reference(
        [" ".join([w] * c) for w, c in _fixture], BPE_BYTES_MERGES)

    def _esc(s: str) -> str:
        return s.replace("'", "''")

    def _mvals(ms):
        return ", ".join(
            f"(CAST({i} AS BIGINT), '{_esc(a)}', '{_esc(b)}', "
            f"CAST({n} AS BIGINT))"
            for i, (a, b, n) in enumerate(ms))

    _learned_pairs = [(a, b) for a, b, _ in _exp_merges]
    bpe_train = f"""
        SELECT 'merge' AS part, idx, a, b, n
        FROM (VALUES {_mvals(_exp_merges)}) t(idx, a, b, n)
        UNION ALL
        SELECT 'bytes', idx, a, b, n
        FROM (VALUES {_mvals(_exp_bytes)}) tb(idx, a, b, n)
        UNION ALL
        SELECT 'tokens', doc_id, '', '',
               {text.bpe_count_sql('text', _learned_pairs)}
        FROM documents WHERE doc_id < {BPE_TRAIN_DOCLIM}
    """

    # html_extract: rebuild the SAME planted HTML, replay the SAME
    # ordered rule chain as RE2 (generated from extract._RULES)
    from mbrngq_spark.operators.extract import html_extract_sql
    _html_expr = (
        "('<html><head><script type=\"text/javascript\">var id='"
        " || doc_id || ';\nif (id > 1) { id = 0; }</script>'"
        " || '<style>.c{color:red}\n.d{x:1}</style></head><body>'"
        " || '<h1 class=\"t\">Doc ' || doc_id || '</h1>\n<p>' || text"
        " || '</p><!-- secret ' || doc_id"
        " || ' --><div>tail &amp;amp; A&nbsp;B &lt;x&gt; "
        "&quot;q&#39;</div></body></html>')")
    html_extract = f"""
        WITH h AS (SELECT doc_id, {_html_expr} AS html FROM documents),
        e AS (SELECT doc_id, {html_extract_sql('html')} AS t FROM h)
        SELECT doc_id, md5(t) AS text_md5,
               CAST(length(t) AS BIGINT) AS text_len
        FROM e
    """

    # agg_cube: same CUBE in DuckDB; GROUPING() bit order (first arg =
    # MSB) matches Spark's grouping_id()
    agg_cube = """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               round(sum(CAST(l_quantity AS DOUBLE)), 2) AS sum_qty,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """

    # poly_cover: PNPOLY replayed edge-by-edge with the engine fold's
    # exact (i, j) pairs and division form (geom.pnpoly) over the
    # same quantized bbox candidate tiles and center arithmetic
    n_tile = 1 << H.TILE_RES
    _wx = H.CFG.width / n_tile
    _wy = H.CFG.height / n_tile

    def _edge(xi, yi, xj, yj):
        return (f"(CASE WHEN (({yi} > py) <> ({yj} > py))"
                f" AND px < ({xj} - {xi}) * (py - {yi})"
                f" / ({yj} - {yi}) + {xi} THEN 1 ELSE 0 END)")

    from mbrngq_spark.operators.geodetic import geodetic_polygon_area_sql

    # part 'compact': TILE_RES unrolled promotion rounds over the planar
    # cover — parent coords are plain integer halving (Morton truncation
    # halves ix and iy), so the oracle never needs bit interleaving
    _cc, _cs = [], []
    for _r in range(H.TILE_RES, 0, -1):
        _cc.append(f"p{_r} AS (SELECT poly_id, ix // 2 AS px, iy // 2 AS py,"
                   f" count(*) AS n FROM l{_r} GROUP BY 1, 2, 3)")
        _cc.append(f"k{_r} AS (SELECT l.poly_id, l.ix, l.iy FROM l{_r} l"
                   f" JOIN p{_r} p ON l.poly_id = p.poly_id"
                   f" AND l.ix // 2 = p.px AND l.iy // 2 = p.py"
                   f" WHERE p.n < 4)")
        _cc.append(f"l{_r - 1} AS (SELECT poly_id, px AS ix, py AS iy"
                   f" FROM p{_r} WHERE n = 4)")
        _cs.append(f"SELECT 'compact' AS part, poly_id,"
                   f" CAST({_r} AS BIGINT) AS tile_id,"
                   f" CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy"
                   f" FROM k{_r}")
    _cs.append("SELECT 'compact', poly_id, CAST(0 AS BIGINT),"
               " CAST(ix AS BIGINT), CAST(iy AS BIGINT) FROM l0")
    _compact_ctes = ",\n        ".join(_cc)
    _compact_selects = "\n        UNION ALL ".join(_cs)

    # 'crossing' part: derived doc tracks vs fixture route segments —
    # four orientation signs (pure multiply/subtract, boolean parity)
    # and the crossing point via t = o3/(o3−o4), identical op order
    _trk = (f"SELECT doc_id, x AS ax, y AS ay,"
            f" x + ({derive.x_sql('(doc_id + 7777)')} - 50.0) / 50.0 * 6.0"
            f" AS bx,"
            f" y + ({derive.y_sql('(doc_id + 7777)')} - 50.0) / 50.0 * 6.0"
            f" AS by"
            f" FROM ({H.docs_geo_sql()}) g")

    def _xo(px, py, qx, qy, rx, ry):
        return (f"((({qx}) - ({px})) * (({ry}) - ({py}))"
                f" - (({qy}) - ({py})) * (({rx}) - ({px})))")

    _xsels = []
    for _lid, _vx, _vy in H.POLYLINES:
        for _si in range(len(_vx) - 1):
            _lax, _lay = repr(_vx[_si]), repr(_vy[_si])
            _lbx, _lby = repr(_vx[_si + 1]), repr(_vy[_si + 1])
            _o1 = _xo("ax", "ay", "bx", "by", _lax, _lay)
            _o2 = _xo("ax", "ay", "bx", "by", _lbx, _lby)
            _o3 = _xo(_lax, _lay, _lbx, _lby, "ax", "ay")
            _o4 = _xo(_lax, _lay, _lbx, _lby, "bx", "by")
            _t = f"({_o3} / ({_o3} - {_o4}))"
            _xsels.append(
                f"SELECT CAST({_lid} AS BIGINT) AS line_id,"
                f" CAST(doc_id AS BIGINT) AS doc_id,"
                f" ax + {_t} * (bx - ax) AS cx,"
                f" ay + {_t} * (by - ay) AS cy"
                f" FROM ({_trk}) t"
                f" WHERE {_o1} * {_o2} < 0 AND {_o3} * {_o4} < 0")
    _crossing_sel = "\n          UNION ALL ".join(_xsels)

    # 'measure' part: shoelace folds over the derived doc quads with the
    # engine's exact left-to-right association
    _mw = f"(2.0 + ({derive.x_sql('(doc_id + 3333)')} - 50.0) / 50.0)"
    _mh = f"(2.0 + ({derive.y_sql('(doc_id + 3333)')} - 50.0) / 50.0)"
    _mvx = ["(g.x)", f"(g.x + {_mw})", f"(g.x + {_mw} * 0.6)", "(g.x)"]
    _mvy = ["(g.y)", "(g.y)", f"(g.y + {_mh})", f"(g.y + {_mh} * 0.8)"]
    _mc = [f"(({_mvx[i]}) * ({_mvy[(i + 1) % 4]})"
           f" - ({_mvx[(i + 1) % 4]}) * ({_mvy[i]}))" for i in range(4)]
    _m2a = f"((((0.0 + {_mc[0]}) + {_mc[1]}) + {_mc[2]}) + {_mc[3]})"
    _mcxn = "((((0.0 + {0}) + {1}) + {2}) + {3})".format(
        *[f"(({_mvx[i]}) + ({_mvx[(i + 1) % 4]})) * {_mc[i]}"
          for i in range(4)])
    _mcyn = "((((0.0 + {0}) + {1}) + {2}) + {3})".format(
        *[f"(({_mvy[i]}) + ({_mvy[(i + 1) % 4]})) * {_mc[i]}"
          for i in range(4)])
    _measure_sel = (
        f"SELECT 'measure' AS part, CAST(doc_id AS BIGINT) AS poly_id,"
        f" CAST(round(({_m2a} / 2) * 1000000.0) AS BIGINT) AS tile_id,"
        f" CAST(round(({_mcxn} / (3 * {_m2a})) * 1000000.0) AS BIGINT)"
        f" AS ix,"
        f" CAST(round(({_mcyn} / (3 * {_m2a})) * 1000000.0) AS BIGINT)"
        f" AS iy"
        f" FROM ({H.docs_geo_sql()}) g")

    # 'contour' part: marching squares replayed — the kde raster
    # (ix, iy, wq), a ≤4-square splat + corner pivot, the integer case,
    # the literal case→edges table, and per-edge interpolation with the
    # engine's exact op order
    _ct = int(H.CONTOUR_T)
    _ctn = 1 << H.KDE_RES

    def _ccx(k: int) -> str:
        return (f"({H.CFG.min_x!r} + (sx + {1 if k in (1, 2) else 0}"
                f" + 0.5) * {_kwx!r})")

    def _ccy(k: int) -> str:
        return (f"({H.CFG.min_y!r} + (sy + {1 if k in (2, 3) else 0}"
                f" + 0.5) * {_kwy!r})")

    _cca = {0: 0, 1: 1, 2: 3, 3: 0}
    _ccb = {0: 1, 1: 2, 2: 2, 3: 3}

    def _cpt(e: int) -> tuple[str, str]:
        a, bb = _cca[e], _ccb[e]
        t = (f"(CAST({_ct} - v{a} AS DOUBLE)"
             f" / CAST(v{bb} - v{a} AS DOUBLE))")
        px = f"({_ccx(a)} + {t} * ({_ccx(bb)} - {_ccx(a)}))"
        py = f"({_ccy(a)} + {t} * ({_ccy(bb)} - {_ccy(a)}))"
        return px, py

    def _cchain(col: str, which: int) -> str:
        return ("CASE " + " ".join(
            f"WHEN {col} = {e} THEN {_cpt(e)[which]}"
            for e in range(4)) + " END")

    from mbrngq_spark.operators.tiles import MS_CASES as _MS
    _ctab = ", ".join(f"({c}, {s}, {ea}, {eb})"
                      for c, segs in _MS.items()
                      for s, (ea, eb) in enumerate(segs))
    _contour_ctes = f"""
        kraster AS (
          SELECT ix, iy,
                 CAST(sum(CAST(round(((1.0 - d2 / {_kh2!r})
                                      * (1.0 - d2 / {_kh2!r}))
                                     * {_kq!r}) AS BIGINT)) AS BIGINT)
                 AS wq
          FROM (
            SELECT ix, iy,
                   (x - cx) * (x - cx) + (y - cy) * (y - cy) AS d2
            FROM (
              SELECT x, y, ix, iy,
                     {H.CFG.min_x!r} + (ix + 0.5) * {_kwx!r} AS cx,
                     {H.CFG.min_y!r} + (iy + 0.5) * {_kwy!r} AS cy
              FROM (
                SELECT x, y, ix,
                       unnest(generate_series(
                         {H.quantize_sql(f'(y - {_kh!r})', H.CFG.min_y,
                                         H.CFG.height, H.KDE_RES)},
                         {H.quantize_sql(f'(y + {_kh!r})', H.CFG.min_y,
                                         H.CFG.height, H.KDE_RES)})) AS iy
                FROM (
                  SELECT x, y,
                         unnest(generate_series(
                           {H.quantize_sql(f'(x - {_kh!r})', H.CFG.min_x,
                                           H.CFG.width, H.KDE_RES)},
                           {H.quantize_sql(f'(x + {_kh!r})', H.CFG.min_x,
                                           H.CFG.width, H.KDE_RES)})) AS ix
                  FROM ({geo}) g) kx) kxy) kc) kd
          WHERE d2 <= {_kh2!r}
          GROUP BY ix, iy),
        ksq AS (
          SELECT sx, sy,
                 CAST(COALESCE(max(CASE WHEN cnr = 0 THEN wq END), 0)
                      AS BIGINT) AS v0,
                 CAST(COALESCE(max(CASE WHEN cnr = 1 THEN wq END), 0)
                      AS BIGINT) AS v1,
                 CAST(COALESCE(max(CASE WHEN cnr = 2 THEN wq END), 0)
                      AS BIGINT) AS v2,
                 CAST(COALESCE(max(CASE WHEN cnr = 3 THEN wq END), 0)
                      AS BIGINT) AS v3
          FROM (
            SELECT wq, sx, sy,
                   CASE WHEN ix - sx = 0 AND iy - sy = 0 THEN 0
                        WHEN ix - sx = 1 AND iy - sy = 0 THEN 1
                        WHEN ix - sx = 1 AND iy - sy = 1 THEN 2
                        ELSE 3 END AS cnr
            FROM (
              SELECT wq, ix, iy, sx,
                     unnest(generate_series(iy - 1, iy)) AS sy
              FROM (SELECT wq, ix, iy,
                           unnest(generate_series(ix - 1, ix)) AS sx
                    FROM kraster) k1) k2
            WHERE sx BETWEEN 0 AND {_ctn - 2}
              AND sy BETWEEN 0 AND {_ctn - 2}) k3
          GROUP BY sx, sy),
        kcase AS (
          SELECT sx, sy, v0, v1, v2, v3,
                 CAST(v0 > {_ct} AS INT) + 2 * CAST(v1 > {_ct} AS INT)
                 + 4 * CAST(v2 > {_ct} AS INT)
                 + 8 * CAST(v3 > {_ct} AS INT) AS case_id
          FROM ksq),
        kctab(case_id, seg, e_a, e_b) AS (VALUES {_ctab}),
        kjoin AS (
          SELECT k.*, t.seg, t.e_a, t.e_b
          FROM kcase k JOIN kctab t USING (case_id)
          WHERE k.case_id > 0 AND k.case_id < 15)
    """
    _contour_sql = f"""
        WITH {_contour_ctes}
        SELECT 'contour' AS part,
               CAST(((sx * {_ctn} + sy) * 4 + seg) * 2 + e_end AS BIGINT)
               AS poly_id,
               CAST(case_id AS BIGINT) AS tile_id,
               CAST(round(px * 1000000.0) AS BIGINT) AS ix,
               CAST(round(py * 1000000.0) AS BIGINT) AS iy
        FROM (
          SELECT sx, sy, seg, case_id, 0 AS e_end,
                 {_cchain('e_a', 0)} AS px, {_cchain('e_a', 1)} AS py
          FROM kjoin
          UNION ALL
          SELECT sx, sy, seg, case_id, 1,
                 {_cchain('e_b', 0)}, {_cchain('e_b', 1)}
          FROM kjoin) ke
    """

    # 'simplify' part: Douglas-Peucker replayed as unrolled BFS rounds
    # over the derived vertex table — per round: anchor-interior
    # candidates, the exact quantized point-segment distance with the
    # engine's op order, windowed argmax with the (−dq, idx) tiebreak,
    # split iff dq > epsq
    _spq = int(round(H.SIMPLIFY_EPS * 1e9))
    _sp_ctes = [f"""
        sverts AS MATERIALIZED (
          SELECT doc_id AS line_id, idx,
                 {derive.x_sql('(doc_id * 31 + idx * 7 + 1)')} AS vx,
                 {derive.y_sql('(doc_id * 31 + idx * 7 + 1)')} AS vy
          FROM (SELECT doc_id,
                       unnest(generate_series(0, {H.SIMPLIFY_V - 1}))
                       AS idx
                FROM documents WHERE doc_id < {H.SIMPLIFY_N}) sv),
        sa0 AS MATERIALIZED (SELECT DISTINCT line_id, CAST(0 AS BIGINT) AS i,
                       CAST({H.SIMPLIFY_V - 1} AS BIGINT) AS j
                FROM sverts)"""]
    for _r in range(H.SIMPLIFY_ROUNDS):
        _sp_ctes.append(f"""
        sm{_r} AS MATERIALIZED (
          SELECT line_id, i, j, idx AS m FROM (
            SELECT *, row_number() OVER (
              PARTITION BY line_id, i, j
              ORDER BY dq DESC, idx) AS rn
            FROM (
              SELECT line_id, i, j, idx,
                     CAST(round(sqrt((vx - qx) * (vx - qx)
                                     + (vy - qy) * (vy - qy))
                                * 1000000000.0) AS BIGINT) AS dq
              FROM (
                SELECT line_id, i, j, idx, vx, vy,
                       xi + t * dx AS qx, yi + t * dy AS qy
                FROM (
                  SELECT *, LEAST(GREATEST(((vx - xi) * dx
                             + (vy - yi) * dy)
                             / (dx * dx + dy * dy), 0.0), 1.0) AS t
                  FROM (
                    SELECT *, xj - xi AS dx, yj - yi AS dy
                    FROM (
                      SELECT a.line_id, a.i, a.j, v.idx, v.vx, v.vy,
                             pi.vx AS xi, pi.vy AS yi,
                             pj.vx AS xj, pj.vy AS yj
                      FROM sa{_r} a
                      JOIN sverts pi ON pi.line_id = a.line_id
                       AND pi.idx = a.i
                      JOIN sverts pj ON pj.line_id = a.line_id
                       AND pj.idx = a.j
                      JOIN sverts v ON v.line_id = a.line_id
                       AND v.idx > a.i AND v.idx < a.j) c0) c1) c2) c3)
              cd) cm
          WHERE rn = 1 AND dq > {_spq}),
        sa{_r + 1} AS MATERIALIZED (
          SELECT line_id, i, m AS j FROM sm{_r}
          UNION ALL SELECT line_id, m, j FROM sm{_r})""")
    _sp_kept = " UNION ".join(
        f"SELECT line_id, i AS idx FROM sa{r}"
        f" UNION SELECT line_id, j FROM sa{r}"
        for r in range(H.SIMPLIFY_ROUNDS + 1))
    _sp_ctes.append(f"""
        ssimp AS MATERIALIZED (
          SELECT 'simplify' AS part, k.line_id AS poly_id,
                 k.idx AS tile_id,
                 CAST(round(v.vx * 1000000.0) AS BIGINT) AS ix,
                 CAST(round(v.vy * 1000000.0) AS BIGINT) AS iy
          FROM ({_sp_kept}) k
          JOIN sverts v ON v.line_id = k.line_id AND v.idx = k.idx)""")
    _sp_cte_block = ','.join(_sp_ctes)
    _simplify_sel = "SELECT part, poly_id, tile_id, ix, iy FROM ssimp"

    # 'contour_cc' part: isoline assembly replayed — lattice-edge keys
    # from (sx, sy, edge), the ≤degree-2 shared-key pair graph, and a
    # recursive-CTE closure with min-node labels (the dedup_cc
    # discipline); isolated single-segment curves self-label
    _ckey = ("(CASE WHEN e = 2 THEN sy + 1 ELSE sy END * {n}"
             " + CASE WHEN e = 1 THEN sx + 1 ELSE sx END) * 2"
             " + CASE WHEN e = 1 OR e = 3 THEN 1 ELSE 0 END") \
        .format(n=_ctn)
    _contour_cc_sql = f"""
        WITH RECURSIVE {_contour_ctes},
        cnodes AS MATERIALIZED (
          SELECT (sx * {_ctn} + sy) * 4 + seg AS node, sx, sy, e_a, e_b
          FROM kjoin),
        cends AS MATERIALIZED (
          SELECT node, {_ckey} AS key
          FROM (SELECT node, sx, sy, e_a AS e FROM cnodes
                UNION ALL
                SELECT node, sx, sy, e_b FROM cnodes) ee),
        cpairs AS MATERIALIZED (
          SELECT a.node AS u, b.node AS v
          FROM cends a JOIN cends b
            ON a.key = b.key AND a.node <> b.node),
        creach(id, r) AS (
          SELECT u, u FROM cpairs
          UNION
          SELECT e.v, creach.r FROM creach JOIN cpairs e
            ON creach.id = e.u),
        ccomp AS (SELECT id, min(r) AS comp FROM creach GROUP BY id)
        SELECT 'contour_cc' AS part,
               CAST(nn.node AS BIGINT) AS poly_id,
               CAST(COALESCE(cc.comp, nn.node) AS BIGINT) AS tile_id,
               CAST(-1 AS BIGINT) AS ix, CAST(-1 AS BIGINT) AS iy
        FROM cnodes nn LEFT JOIN ccomp cc ON cc.id = nn.node
    """

    # 'geo_simplify' part: the spherical DP replayed — derived lat/lon
    # vertex table, the 3-D point-to-arc kernel staged exactly as
    # geodetic_segment_dist_m evaluates it (try_divide null-guards
    # become explicit CASE WHEN ... = 0 THEN NULL), centimeter argmax
    _gsq = int(round(H.GEO_SIMPLIFY_EPS_M * 100.0))

    def _ghav_rt(la1, lo1, la2, lo2):
        return (f"2 * 6371000.0 * asin(least(1.0, sqrt("
                f"pow(sin(radians({la2} - {la1}) / 2), 2)"
                f" + cos(radians({la1})) * cos(radians({la2}))"
                f" * pow(sin(radians(fmod({lo2} - {lo1} + 540.0, 360.0)"
                f" - 180.0) / 2), 2))))")

    _gs_ctes = [f"""
        gverts AS MATERIALIZED (
          SELECT doc_id AS line_id, idx,
                 ({derive.y_sql('(doc_id * 31 + idx * 7 + 1)')})
                 * 1.8 - 90.0 AS vlat,
                 ({derive.x_sql('(doc_id * 31 + idx * 7 + 1)')})
                 * 3.6 - 180.0 AS vlon
          FROM (SELECT doc_id,
                       unnest(generate_series(0, {H.SIMPLIFY_V - 1}))
                       AS idx
                FROM documents WHERE doc_id < {H.SIMPLIFY_N}) gv),
        ga0 AS MATERIALIZED (
          SELECT DISTINCT line_id, CAST(0 AS BIGINT) AS i,
                 CAST({H.SIMPLIFY_V - 1} AS BIGINT) AS j
          FROM gverts)"""]
    for _r in range(H.SIMPLIFY_ROUNDS):
        _gs_ctes.append(f"""
        gm{_r} AS MATERIALIZED (
          SELECT line_id, i, j, idx AS m FROM (
            SELECT *, row_number() OVER (
              PARTITION BY line_id, i, j
              ORDER BY dq DESC, idx) AS rn
            FROM (
              SELECT line_id, i, j, idx,
                     CAST(round((CASE WHEN cosxt <> 0.0
                                       AND pa / cosxt >= ab
                                       AND pb / cosxt >= ab
                                 THEN 6371000.0
                                      * asin(least(abs(sinxt), 1.0))
                                 ELSE least(hpa, hpb) END) * 100.0)
                          AS BIGINT) AS dq
              FROM (
                SELECT *, sqrt(greatest(1.0 - sinxt * sinxt, 0.0))
                          AS cosxt
                FROM (
                  SELECT *, CASE WHEN nn = 0.0 THEN NULL
                                 ELSE (px * nx + py * ny + pz * nz) / nn
                            END AS sinxt
                  FROM (
                    SELECT *, sqrt(nx * nx + ny * ny + nz * nz) AS nn,
                           ax * bx + ay * by + az * bz AS ab,
                           px * ax + py * ay + pz * az AS pa,
                           px * bx + py * by + pz * bz AS pb
                    FROM (
                      SELECT *, ay * bz - az * by AS nx,
                             az * bx - ax * bz AS ny,
                             ax * by - ay * bx AS nz
                      FROM (
                        SELECT line_id, i, j, idx,
                               cos(radians(vlat)) * cos(radians(vlon))
                               AS px,
                               cos(radians(vlat)) * sin(radians(vlon))
                               AS py,
                               sin(radians(vlat)) AS pz,
                               cos(radians(alat)) * cos(radians(alon))
                               AS ax,
                               cos(radians(alat)) * sin(radians(alon))
                               AS ay,
                               sin(radians(alat)) AS az,
                               cos(radians(blat)) * cos(radians(blon))
                               AS bx,
                               cos(radians(blat)) * sin(radians(blon))
                               AS by,
                               sin(radians(blat)) AS bz,
                               {_ghav_rt('vlat', 'vlon', 'alat', 'alon')}
                               AS hpa,
                               {_ghav_rt('vlat', 'vlon', 'blat', 'blon')}
                               AS hpb
                        FROM (
                          SELECT a.line_id, a.i, a.j, v.idx,
                                 v.vlat, v.vlon,
                                 pi.vlat AS alat, pi.vlon AS alon,
                                 pj.vlat AS blat, pj.vlon AS blon
                          FROM ga{_r} a
                          JOIN gverts pi ON pi.line_id = a.line_id
                           AND pi.idx = a.i
                          JOIN gverts pj ON pj.line_id = a.line_id
                           AND pj.idx = a.j
                          JOIN gverts v ON v.line_id = a.line_id
                           AND v.idx > a.i AND v.idx < a.j) g0) g1) g2)
                  g3) g4) g5) g6) g7
          WHERE rn = 1 AND dq > {_gsq}),
        ga{_r + 1} AS MATERIALIZED (
          SELECT line_id, i, m AS j FROM gm{_r}
          UNION ALL SELECT line_id, m, j FROM gm{_r})""")
    _gs_kept = " UNION ".join(
        f"SELECT line_id, i AS idx FROM ga{r}"
        f" UNION SELECT line_id, j FROM ga{r}"
        for r in range(H.SIMPLIFY_ROUNDS + 1))
    _gs_cte_block = ','.join(_gs_ctes)
    _geo_simplify_sel = f"""
        SELECT 'geo_simplify' AS part, k.line_id AS poly_id,
               k.idx AS tile_id,
               CAST(round(v.vlat * 1000000.0) AS BIGINT) AS ix,
               CAST(round(v.vlon * 1000000.0) AS BIGINT) AS iy
        FROM ({_gs_kept}) k
        JOIN gverts v ON v.line_id = k.line_id AND v.idx = k.idx
    """

    # 'refpts' part: linear referencing replayed — segment literals from
    # the POLYLINES fixture, lenq = round(len·10⁹) in-SQL (same sqrt dag),
    # cumq = exact BIGINT window sum (quantize-before-sum makes the
    # running offset immune to windowed-double reordering), k-range via
    # integer ceil-division, t = one int→double division
    _stepq = int(round(H.REF_STEP * 1e9))
    _segrows = ", ".join(
        f"({lid}, {si}, {vx[si]!r}, {vy[si]!r}, {vx[si + 1]!r}, "
        f"{vy[si + 1]!r})"
        for lid, vx, vy in H.POLYLINES for si in range(len(vx) - 1))
    _reft = "(CAST(k * {s} - cumq AS DOUBLE) / CAST(lenq AS DOUBLE))" \
        .format(s=_stepq)
    _refpts_sel = f"""
        SELECT 'refpts' AS part, line_id AS poly_id,
               CAST(k AS BIGINT) AS tile_id,
               CAST(round((ax + {_reft} * (bx - ax)) * 1000000.0)
                    AS BIGINT) AS ix,
               CAST(round((ay + {_reft} * (by - ay)) * 1000000.0)
                    AS BIGINT) AS iy
        FROM (
          SELECT *, unnest(generate_series(
                   (cumq + {_stepq - 1}) // {_stepq},
                   (cumq + lenq + {_stepq - 1}) // {_stepq} - 1)) AS k
          FROM (
            SELECT *, CAST(COALESCE(sum(lenq) OVER (
                     PARTITION BY line_id ORDER BY seg_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cumq
            FROM (
              SELECT line_id, seg_idx, ax, ay, bx, by,
                     CAST(round(sqrt((bx - ax) * (bx - ax)
                                     + (by - ay) * (by - ay))
                                * 1000000000.0) AS BIGINT) AS lenq
              FROM (SELECT CAST(line_id AS BIGINT) AS line_id,
                           CAST(seg_idx AS BIGINT) AS seg_idx,
                           CAST(ax AS DOUBLE) AS ax,
                           CAST(ay AS DOUBLE) AS ay,
                           CAST(bx AS DOUBLE) AS bx,
                           CAST(by AS DOUBLE) AS by
                    FROM (VALUES {_segrows})
                    AS v(line_id, seg_idx, ax, ay, bx, by)) sv) sl) sc) sk
    """

    poly_cover = f"""
        WITH {_sp_cte_block},
        {_gs_cte_block},
        hpts AS MATERIALIZED (
          SELECT min(doc_id) AS id, qx, qy FROM (
            SELECT doc_id, CAST(round(x * 1000000.0) AS BIGINT) AS qx,
                   CAST(round(y * 1000000.0) AS BIGINT) AS qy
            FROM ({geo}) hg WHERE doc_id < {H.HULL_N}) hq
          GROUP BY qx, qy),
        b AS (
          SELECT poly_id, x1, y1, x2, y2, x3, y3,
                 {H.quantize_sql('least(x1, x2, x3)', H.CFG.min_x, H.CFG.width, H.TILE_RES)} AS ix0,
                 {H.quantize_sql('greatest(x1, x2, x3)', H.CFG.min_x, H.CFG.width, H.TILE_RES)} AS ix1,
                 {H.quantize_sql('least(y1, y2, y3)', H.CFG.min_y, H.CFG.height, H.TILE_RES)} AS iy0,
                 {H.quantize_sql('greatest(y1, y2, y3)', H.CFG.min_y, H.CFG.height, H.TILE_RES)} AS iy1
          FROM {H.tri_values_sql()}),
        bx AS (
          SELECT *, unnest(generate_series(ix0, ix1)) AS ix FROM b),
        cells AS (
          SELECT *, unnest(generate_series(iy0, iy1)) AS iy FROM bx),
        centers AS (
          SELECT poly_id, ix, iy, x1, y1, x2, y2, x3, y3,
                 {H.CFG.min_x} + (ix + 0.5) * {_wx!r} AS px,
                 {H.CFG.min_y} + (iy + 0.5) * {_wy!r} AS py
          FROM cells),
        pl AS (
          SELECT poly_id, ix, iy
          FROM centers
          WHERE ({_edge('x1', 'y1', 'x3', 'y3')}
                 + {_edge('x2', 'y2', 'x1', 'y1')}
                 + {_edge('x3', 'y3', 'x2', 'y2')}) % 2 = 1),
        l{H.TILE_RES} AS (SELECT poly_id, ix, iy FROM pl),
        {_compact_ctes}
        SELECT 'planar' AS part, poly_id,
               CAST(iy * {n_tile} + ix AS BIGINT) AS tile_id,
               CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy
        FROM pl
        UNION ALL {_compact_selects}
        UNION ALL
        SELECT 'zonal', pl.poly_id,
               CAST(sum(COALESCE(tc.c, 0)) AS BIGINT),
               CAST(count(*) AS BIGINT),
               CAST(max(COALESCE(tc.c, 0)) AS BIGINT)
        FROM pl LEFT JOIN (
          SELECT {qx_tile} AS ix, {qy_tile} AS iy, count(*) AS c
          FROM ({geo}) g GROUP BY 1, 2) tc
          ON pl.ix = tc.ix AND pl.iy = tc.iy
        GROUP BY pl.poly_id
        UNION ALL
        SELECT 'crossing', line_id, doc_id,
               CAST(round(cx * 1000000.0) AS BIGINT),
               CAST(round(cy * 1000000.0) AS BIGINT)
        FROM ({_crossing_sel}) xx
        UNION ALL
        {_measure_sel}
        UNION ALL
        SELECT part, poly_id, tile_id, ix, iy FROM (
          WITH gc AS (
            SELECT iy, ix,
                   -90.0 + (iy + 0.5) * {180.0 / 32!r} AS lat,
                   -180.0 + (ix + 0.5) * {360.0 / 32!r} AS lon
            FROM (SELECT unnest(generate_series(0, 31)) AS iy) a,
                 (SELECT unnest(generate_series(0, 31)) AS ix) b)
          {" UNION ALL ".join(
              f"SELECT 'geo' AS part, CAST({pid} AS BIGINT) AS poly_id, "
              f"CAST(iy * 32 + ix AS BIGINT) AS tile_id, "
              f"CAST(ix AS BIGINT) AS ix, CAST(iy AS BIGINT) AS iy "
              f"FROM gc WHERE {_geo_pip_pred_sql(vlat, vlon)}"
              for pid, vlat, vlon in GEO_POLYS)}
        ) gp
        UNION ALL
        SELECT 'geo_area', poly_id,
               CAST(round(area_km2 * 10000) AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({geodetic_polygon_area_sql(GEO_POLYS)}) ga
        UNION ALL
        SELECT 'hull' AS part, a_id AS poly_id, b_id AS tile_id, hqx AS ix,
               hqy AS iy
        FROM (
          SELECT a.id a_id, b.id b_id, a.qx hqx, a.qy hqy,
                 min(CASE
                     WHEN (b.qx - a.qx) * (r.qy - a.qy)
                          - (b.qy - a.qy) * (r.qx - a.qx) > 0 THEN 1
                     WHEN (b.qx - a.qx) * (r.qy - a.qy)
                          - (b.qy - a.qy) * (r.qx - a.qx) = 0
                          AND (r.qx - a.qx) * (b.qx - a.qx)
                              + (r.qy - a.qy) * (b.qy - a.qy) > 0
                          AND (r.qx - a.qx) * (b.qx - a.qx)
                              + (r.qy - a.qy) * (b.qy - a.qy)
                              < (b.qx - a.qx) * (b.qx - a.qx)
                                + (b.qy - a.qy) * (b.qy - a.qy)
                          THEN 1
                     ELSE 0 END) AS ok
          FROM hpts a JOIN hpts b ON a.id <> b.id
          JOIN hpts r ON r.id <> a.id AND r.id <> b.id
          GROUP BY 1, 2, 3, 4) he
        WHERE ok = 1
        UNION ALL
        SELECT 'diameter' AS part, a_id AS poly_id, b_id AS tile_id,
               d2 AS ix, CAST(-1 AS BIGINT) AS iy
        FROM (SELECT a.id a_id, b.id b_id,
                     (b.qx - a.qx) * (b.qx - a.qx)
                     + (b.qy - a.qy) * (b.qy - a.qy) AS d2
              FROM hpts a JOIN hpts b ON a.id < b.id
              ORDER BY d2 DESC, a_id, b_id LIMIT 1) dd
        UNION ALL
        SELECT 'skyline' AS part, id AS poly_id,
               CAST(-1 AS BIGINT) AS tile_id, qx AS ix, qy AS iy
        FROM hpts p
        WHERE NOT EXISTS (
          SELECT 1 FROM hpts q
          WHERE q.id <> p.id AND q.qx <= p.qx AND q.qy <= p.qy
            AND (q.qx < p.qx OR q.qy < p.qy))
        UNION ALL
        {_simplify_sel}
        UNION ALL
        {_geo_simplify_sel}
        UNION ALL
        SELECT part, poly_id, tile_id, ix, iy FROM ({_contour_sql}) cq
        UNION ALL
        SELECT part, poly_id, tile_id, ix, iy FROM ({_contour_cc_sql}) ccq
        UNION ALL
        {_refpts_sel}
    """

    # spans_invariant: DuckDB rebuilds the EXPECTED span sequence from
    # the same md5 arithmetic, never having seen the array — equal iff
    # the engine's shuffles/window/join preserved (kind, text,
    # media_ref, order) per row
    spans_invariant = """
        WITH s AS (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY doc_id % 7
                                    ORDER BY doc_id DESC) AS rn,
                 length(text) AS tl,
                 unnest(range(0, 1 + ascii(substr(md5(
                   CAST(doc_id AS VARCHAR) || '/n'), 1, 1)) % 4)) AS i
          FROM documents),
        sp AS (
          SELECT doc_id, rn, tl, i,
                 ascii(substr(md5(CAST(doc_id AS VARCHAR) || '/s'
                                  || CAST(i AS VARCHAR)), 1, 1)) % 4 AS kv
          FROM s)
        SELECT sp.doc_id, CAST(rn AS BIGINT) AS rn, CAST(tl AS BIGINT) AS tl,
               CAST(i AS BIGINT) AS span_idx,
               ['text', 'image', 'audio', 'video'][kv + 1] AS kind,
               md5(CASE WHEN kv = 0
                        THEN substr(d.text, (i * 7) % 40 + 1, 25)
                        ELSE '' END) AS text_md5,
               CASE WHEN kv <> 0
                    THEN 'ref://' || CAST(sp.doc_id AS VARCHAR) || '/'
                         || CAST(i AS VARCHAR)
                    ELSE '' END AS media_ref,
               CAST(i AS BIGINT) AS span_offset
        FROM sp JOIN documents d ON sp.doc_id = d.doc_id
    """

    # corpus_chunks: chunk windows + packing prefix sum replayed
    # relationally — list slicing for the window text (md5-compared),
    # one SQL window for the global token cumsum
    corpus_chunks = """
        WITH base AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS ts
          FROM documents),
        sized AS (SELECT doc_id, ts, len(ts) AS n FROM base),
        chunks AS (
          SELECT doc_id, ts, n,
                 unnest([i FOR i IN range(0,
                   greatest(CAST(ceil((n - 8) / 56.0) AS BIGINT), 1))])
                 AS chunk_idx
          FROM sized),
        cc AS (
          SELECT doc_id, chunk_idx,
                 chunk_idx * 56 AS tok_start,
                 least(64, n - chunk_idx * 56) AS tok_len,
                 md5(array_to_string(
                   ts[chunk_idx * 56 + 1 :
                      chunk_idx * 56 + least(64, n - chunk_idx * 56)], ' '))
                 AS chunk_md5
          FROM chunks),
        packed AS (
          SELECT *,
                 sum(tok_len) OVER (ORDER BY doc_id, chunk_idx
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) - tok_len AS gstart
          FROM cc)
        SELECT doc_id, chunk_idx, tok_start, tok_len, chunk_md5,
               CAST(floor(gstart / 256.0) AS BIGINT) AS seq_id,
               CAST(gstart % 256 AS BIGINT) AS seq_offset
        FROM packed
    """

    # media_mjpeg: same md5-meta oracle family, video-only MJPEG corpus —
    # decoded dims / frame count / duration must survive the compressed
    # codec exactly (they are integers; JPEG loss touches only pixels)
    media_mjpeg = f"""
        WITH refs AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 'ref://mj' || doc_id AS media_ref
          FROM documents WHERE doc_id < 60),
        seeds AS (
          SELECT doc_id, media_ref,
                 {_seed('/w')} AS sw, {_seed('/h')} AS sh,
                 {_seed('/v')} AS sv
          FROM refs)
        SELECT doc_id, media_ref,
               CAST(16 + sw % 48 AS BIGINT) AS width_px,
               CAST(16 + sh % 48 AS BIGINT) AS height_px,
               CAST(1 + sv % 30 AS BIGINT) AS n_frames,
               CAST(100 * (1 + sv % 30) AS BIGINT) AS duration_ms
        FROM seeds
    """

    # dedup_substring: the oracle rebuilds the SAME planted corpus from
    # doc_id arithmetic, re-derives shared positional shingles with plain
    # string grouping (the engine groups xxhash64 of the same strings —
    # identical equivalence classes), merges islands with the same
    # gaps-and-islands window, and rebuilds the scrubbed text per doc.
    _sn = SUBSTR_N
    dedup_substring = f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 5 = 0 THEN '{_SUBSTR_HEADER}'
                      ELSE '' END
                 || text
                 || CASE WHEN doc_id % 4 = 0 THEN '{_SUBSTR_LICENSE}'
                         ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                    THEN '{_SUBSTR_TMPL_A}' || (doc_id % 3)
                         || '{_SUBSTR_TMPL_B}'
                    ELSE '' END AS text
          FROM documents WHERE doc_id < {SUBSTR_DOCLIM}),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM planted),
        pos AS (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - {_sn - 1})) AS p
                FROM toks WHERE len(t) >= {_sn}),
        sh AS (SELECT doc_id, p,
                      array_to_string(t[p:p+{_sn - 1}], ' ') AS s
               FROM pos),
        shared AS (SELECT s FROM sh
                   GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        flag AS (SELECT doc_id, p FROM sh
                 WHERE s IN (SELECT s FROM shared)),
        isl AS (SELECT doc_id, p,
                       p - row_number() OVER (PARTITION BY doc_id
                                              ORDER BY p) AS g
                FROM flag),
        runs AS (SELECT doc_id, min(p) AS p0, max(p) AS p1, count(*) AS rl
                 FROM isl GROUP BY doc_id, g),
        spans AS (SELECT doc_id, CAST(p0 - 1 AS BIGINT) AS span_start,
                         CAST(p1 - p0 + {_sn} AS BIGINT) AS span_len
                  FROM runs WHERE rl >= {SUBSTR_MIN_RUN}),
        tokpos AS (SELECT doc_id, t,
                          unnest(generate_series(1, len(t))) AS tp
                   FROM toks),
        keep AS (SELECT k.doc_id, k.tp, k.t[k.tp] AS tok
                 FROM tokpos k
                 WHERE NOT EXISTS (
                   SELECT 1 FROM spans s
                   WHERE s.doc_id = k.doc_id
                     AND k.tp - 1 >= s.span_start
                     AND k.tp - 1 < s.span_start + s.span_len)),
        scrub AS (
          SELECT p.doc_id,
                 coalesce(k.ntok, CAST(0 AS BIGINT)) AS ntok,
                 md5(coalesce(k.txt, '')) AS h
          FROM planted p LEFT JOIN (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok,
                   string_agg(tok, ' ' ORDER BY tp) AS txt
            FROM keep GROUP BY doc_id) k USING (doc_id))
        SELECT 'spans' AS part, doc_id, span_start, span_len, '' AS h
        FROM spans
        UNION ALL
        SELECT 'scrub', doc_id, CAST(-1 AS BIGINT), ntok, h FROM scrub
    """

    text_guards = f"""
        SELECT 'langid' AS part, doc_id, lang_pred,
               CAST(-1 AS BIGINT) AS n_email,
               CAST(-1 AS BIGINT) AS n_phone,
               CAST(-1 AS BIGINT) AS n_ipv4
        FROM ({text_langid})
        UNION ALL
        SELECT 'pii', doc_id, '', CAST(n_email AS BIGINT),
               CAST(n_phone AS BIGINT), CAST(n_ipv4 AS BIGINT)
        FROM ({text_pii})
    """

    # dbscan: quadratic symmetric neighbor join with the SAME inclusive
    # sqrt predicate the eps part uses, degree incl. self, recursive-CTE
    # reachability seeded at EVERY core (isolated cores self-label),
    # min-label border assignment — semantics pinned in clustering.py
    dbscan_sql = f"""
        WITH RECURSIVE g AS ({geo}),
        pr AS (
          SELECT a.doc_id AS pa, b.doc_id AS pb
          FROM g a JOIN g b ON a.doc_id <> b.doc_id
          WHERE {d('a.x', 'a.y', 'b.x', 'b.y')} <= {H.DBSCAN_EPS}),
        cores AS (
          SELECT pa AS id FROM pr GROUP BY pa
          HAVING count(*) + 1 >= {H.DBSCAN_MINPTS}),
        ce AS (
          SELECT pr.pa AS u, pr.pb AS v FROM pr
          JOIN cores ca ON pr.pa = ca.id
          JOIN cores cb ON pr.pb = cb.id),
        reach(id, r) AS (
          SELECT id, id FROM cores
          UNION
          SELECT e.v, reach.r FROM reach JOIN ce e ON reach.id = e.u),
        comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        SELECT CAST(comp.id AS BIGINT) AS a_id,
               CAST(comp.comp AS BIGINT) AS b_id,
               CAST(1.0 AS DOUBLE) AS dist
        FROM comp
        UNION ALL
        SELECT CAST(pr.pa AS BIGINT), CAST(min(comp.comp) AS BIGINT),
               CAST(0.0 AS DOUBLE)
        FROM pr JOIN comp ON comp.id = pr.pb
        WHERE pr.pa NOT IN (SELECT id FROM cores)
        GROUP BY pr.pa
    """

    # 'match' part: Viterbi DP replayed as a pivoted recursive CTE —
    # per-step state is one row (user, step, c0..cR) of exact int64
    # costs; emissions are the corridor join's LEAST chain quantized
    # with round(·1e6); transitions unrolled per route
    _mm_swq = int(round(H.MATCH_SWITCH * 1e6))
    _mm_R = len(H.POLYLINES)
    _mm_em_cols = ", ".join(
        f"CAST(round(({H.polyline_dist_sql('x', 'y', vx, vy)})"
        f" * 1000000.0) AS BIGINT) AS e{k}"
        for k, (_l, vx, vy) in enumerate(H.POLYLINES))
    _mm_next = ", ".join(
        "least({terms}) + e.e{r} AS c{r}".format(
            terms=", ".join(
                f"d.c{rp}" if rp == r else f"d.c{rp} + {_mm_swq}"
                for rp in range(_mm_R)), r=r)
        for r in range(_mm_R))
    _mm_init = ", ".join(f"e{r} AS c{r}" for r in range(_mm_R))
    _mm_out = "\n          UNION ALL ".join(
        f"SELECT 'match' AS part, CAST(user_id AS BIGINT) AS a_id,"
        f" CAST(step * 4 + {r} AS BIGINT) AS b_id,"
        f" CAST(c{r} AS DOUBLE) AS dist FROM mdp"
        for r in range(_mm_R))
    _match_sql = f"""
        WITH RECURSIVE mev AS (
          SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS te,
                 {derive.x_sql('event_id')} AS x,
                 {derive.y_sql('event_id')} AS y
          FROM events WHERE event_id < {H.MATCH_N}),
        mst AS (
          SELECT user_id, event_id, x, y,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY te, event_id) - 1 AS step
          FROM mev),
        mem AS (SELECT user_id, step, {_mm_em_cols} FROM mst),
        mdp AS (
          SELECT user_id, step, {_mm_init} FROM mem WHERE step = 0
          UNION ALL
          SELECT e.user_id, e.step, {_mm_next}
          FROM mdp d JOIN mem e
            ON e.user_id = d.user_id AND e.step = d.step + 1)
        {_mm_out}
    """

    # 'sssp' part: k unrolled Bellman-Ford rounds (the compact_cover
    # unrolled-round discipline) over the symmetric quadratic ε-edge
    # table with micro-quantized weights — exact integer min-plus
    _sp_srcs = ", ".join(f"({i}, 0)" for i in H.SSSP_SOURCES)
    _sp_ctes = [f"""
        sse AS (
          SELECT a.doc_id AS src, b.doc_id AS dst,
                 CAST(round({d('a.x', 'a.y', 'b.x', 'b.y')} * 1000000.0)
                      AS BIGINT) AS wq
          FROM ({geo}) a JOIN ({geo}) b ON a.doc_id <> b.doc_id
          WHERE {d('a.x', 'a.y', 'b.x', 'b.y')} <= {H.DBSCAN_EPS}),
        sd0 AS (
          SELECT CAST(id AS BIGINT) AS id, CAST(dq AS BIGINT) AS distq
          FROM (VALUES {_sp_srcs}) AS v(id, dq))"""]
    for _r in range(1, H.SSSP_K + 1):
        _sp_ctes.append(f"""
        sd{_r} AS (
          SELECT id, min(distq) AS distq FROM (
            SELECT id, distq FROM sd{_r - 1}
            UNION ALL
            SELECT e.dst, dd.distq + e.wq
            FROM sd{_r - 1} dd JOIN sse e ON dd.id = e.src) u{_r}
          GROUP BY id)""")
    _sssp_sql = f"""
        WITH {','.join(_sp_ctes)}
        SELECT 'sssp' AS part, id AS a_id, CAST(-1 AS BIGINT) AS b_id,
               CAST(distq AS DOUBLE) AS dist
        FROM sd{H.SSSP_K}
    """

    # 'frechet' part: the discrete-Fréchet DP replayed row by row —
    # fverts (derived track vertices), fmat (quantized distance matrix
    # for a<b pairs), then V unrolled row rounds; within a round the
    # same-row dependency c_{j-1} is resolved by staged sub-selects
    _fV = H.SIMPLIFY_V

    def _fpivot(i: int, mname: str = "fmat") -> str:
        cols = ", ".join(
            f"max(CASE WHEN j = {k} THEN dq END) AS d{k}"
            for k in range(_fV))
        return (f"SELECT a_id, b_id, {cols} FROM {mname} WHERE i = {i} "
                f"GROUP BY a_id, b_id")

    def _fstage0(combine, mname: str = "fmat") -> str:
        # combine(dk, *preds) builds the DP cell expression
        inner = f"({_fpivot(0, mname)}) pv0"
        for k in range(_fV):
            expr = "d0" if k == 0 else combine(f"d{k}", f"c{k - 1}")
            inner = f"(SELECT *, {expr} AS c{k} FROM {inner}) s0{k}"
        cs = ", ".join(f"c{k}" for k in range(_fV))
        return f"SELECT a_id, b_id, {cs} FROM {inner}"

    def _fstage(i: int, prev: str, combine,
                mname: str = "fmat") -> str:
        base = (f"(SELECT m.a_id, m.b_id, "
                + ", ".join(f"m.d{k}" for k in range(_fV)) + ", "
                + ", ".join(f"p.c{k} AS p{k}" for k in range(_fV))
                + f" FROM ({_fpivot(i, mname)}) m JOIN {prev} p"
                f" USING (a_id, b_id)) b{prev}{i}")
        inner = base
        for k in range(_fV):
            if k == 0:
                expr = combine("d0", "p0")
            else:
                expr = combine(f"d{k}",
                               f"least(p{k}, c{k - 1}, p{k - 1})")
            inner = f"(SELECT *, {expr} AS c{k} FROM {inner}) s{prev}{i}{k}"
        cs = ", ".join(f"c{k}" for k in range(_fV))
        return f"SELECT a_id, b_id, {cs} FROM {inner}"

    def _cmb_frechet(dk, rest):
        return f"greatest({dk}, {rest})"

    def _cmb_dtw(dk, rest):
        return f"{dk} + {rest}"

    _f_ctes = [f"""
        fverts AS MATERIALIZED (
          SELECT doc_id AS line_id, idx,
                 {derive.x_sql('(doc_id * 31 + idx * 7 + 1)')} AS vx,
                 {derive.y_sql('(doc_id * 31 + idx * 7 + 1)')} AS vy
          FROM (SELECT doc_id,
                       unnest(generate_series(0, {_fV - 1})) AS idx
                FROM documents WHERE doc_id < {H.FRECHET_N}) fv),
        fmat AS MATERIALIZED (
          SELECT va.line_id AS a_id, vb.line_id AS b_id,
                 va.idx AS i, vb.idx AS j,
                 CAST(round({d('va.vx', 'va.vy', 'vb.vx', 'vb.vy')}
                            * 1000000.0) AS BIGINT) AS dq
          FROM fverts va JOIN fverts vb ON va.line_id < vb.line_id),
        ff0 AS MATERIALIZED ({_fstage0(_cmb_frechet)}),
        gg0 AS MATERIALIZED ({_fstage0(_cmb_dtw)})"""]
    for _i in range(1, _fV):
        _f_ctes.append(
            f"ff{_i} AS MATERIALIZED "
            f"({_fstage(_i, f'ff{_i - 1}', _cmb_frechet)})")
        _f_ctes.append(
            f"gg{_i} AS MATERIALIZED "
            f"({_fstage(_i, f'gg{_i - 1}', _cmb_dtw)})")
    _frechet_sql = f"""
        WITH {','.join(_f_ctes)}
        SELECT 'frechet' AS part, a_id, b_id,
               CAST(c{_fV - 1} AS DOUBLE) AS dist
        FROM ff{_fV - 1}
        UNION ALL
        SELECT 'dtw', a_id, b_id, CAST(c{_fV - 1} AS DOUBLE)
        FROM gg{_fV - 1}
        UNION ALL
        SELECT 'hausdorff', a_id, b_id,
               CAST(greatest(h_ab, h_ba) AS DOUBLE)
        FROM (SELECT a_id, b_id, max(mn) AS h_ab
              FROM (SELECT a_id, b_id, i, min(dq) AS mn FROM fmat
                    GROUP BY 1, 2, 3) q1 GROUP BY 1, 2) ha
        JOIN (SELECT a_id, b_id, max(mn) AS h_ba
              FROM (SELECT a_id, b_id, j, min(dq) AS mn FROM fmat
                    GROUP BY 1, 2, 3) q2 GROUP BY 1, 2) hb
        USING (a_id, b_id)
    """

    # geodetic similarity family: the same staged-round builders over a
    # haversine centimeter matrix (lat/lon tracks from the same derive)
    _ghav_pair = ("2 * 6371000.0 * asin(least(1.0, sqrt("
                  "pow(sin(radians(vb.vlat - va.vlat) / 2), 2)"
                  " + cos(radians(va.vlat)) * cos(radians(vb.vlat))"
                  " * pow(sin(radians(fmod(vb.vlon - va.vlon + 540.0,"
                  " 360.0) - 180.0) / 2), 2))))")
    _g_ctes = [f"""
        gfverts AS MATERIALIZED (
          SELECT doc_id AS line_id, idx,
                 ({derive.y_sql('(doc_id * 31 + idx * 7 + 1)')})
                 * 1.8 - 90.0 AS vlat,
                 ({derive.x_sql('(doc_id * 31 + idx * 7 + 1)')})
                 * 3.6 - 180.0 AS vlon
          FROM (SELECT doc_id,
                       unnest(generate_series(0, {_fV - 1})) AS idx
                FROM documents WHERE doc_id < {H.GEO_FRECHET_N}) gfv),
        gfmat AS MATERIALIZED (
          SELECT va.line_id AS a_id, vb.line_id AS b_id,
                 va.idx AS i, vb.idx AS j,
                 CAST(round(({_ghav_pair}) * 100.0) AS BIGINT) AS dq
          FROM gfverts va JOIN gfverts vb
            ON va.line_id < vb.line_id),
        gff0 AS MATERIALIZED ({_fstage0(_cmb_frechet, "gfmat")}),
        ggg0 AS MATERIALIZED ({_fstage0(_cmb_dtw, "gfmat")})"""]
    for _i in range(1, _fV):
        _g_ctes.append(
            f"gff{_i} AS MATERIALIZED "
            f"({_fstage(_i, f'gff{_i - 1}', _cmb_frechet, 'gfmat')})")
        _g_ctes.append(
            f"ggg{_i} AS MATERIALIZED "
            f"({_fstage(_i, f'ggg{_i - 1}', _cmb_dtw, 'gfmat')})")
    _geo_sim_sql = f"""
        WITH {','.join(_g_ctes)}
        SELECT 'frechet' AS part, a_id, b_id,
               CAST(c{_fV - 1} AS DOUBLE) AS dist_m
        FROM gff{_fV - 1}
        UNION ALL
        SELECT 'dtw', a_id, b_id, CAST(c{_fV - 1} AS DOUBLE)
        FROM ggg{_fV - 1}
        UNION ALL
        SELECT 'hausdorff', a_id, b_id,
               CAST(greatest(h_ab, h_ba) AS DOUBLE)
        FROM (SELECT a_id, b_id, max(mn) AS h_ab
              FROM (SELECT a_id, b_id, i, min(dq) AS mn FROM gfmat
                    GROUP BY 1, 2, 3) q1 GROUP BY 1, 2) ha
        JOIN (SELECT a_id, b_id, max(mn) AS h_ba
              FROM (SELECT a_id, b_id, j, min(dq) AS mn FROM gfmat
                    GROUP BY 1, 2, 3) q2 GROUP BY 1, 2) hb
        USING (a_id, b_id)
    """
    geo_pairs = f"""{geo_pairs}
        UNION ALL
        SELECT part, a_id, b_id, dist_m FROM ({_geo_sim_sql}) gsq
    """

    spatial_joins = f"""
        SELECT 'rect' AS part, CAST(rect_id AS BIGINT) AS a_id,
               CAST(doc_id AS BIGINT) AS b_id,
               CAST(-1.0 AS DOUBLE) AS dist
        FROM ({spatial_rect_join})
        UNION ALL
        SELECT 'eps', CAST(a_id AS BIGINT), CAST(b_id AS BIGINT), dist
        FROM ({spatial_distance_join})
        UNION ALL
        SELECT 'dbscan', a_id, b_id, dist FROM ({dbscan_sql})
        UNION ALL
        SELECT 'line', a_id, b_id, round(dmin, 6) FROM (
          {" UNION ALL ".join(
            f"SELECT CAST({lid} AS BIGINT) AS a_id,"
            f" CAST(g.doc_id AS BIGINT) AS b_id,"
            f" {H.polyline_dist_sql('g.x', 'g.y', vx, vy)} AS dmin"
            f" FROM ({geo}) g"
            for lid, vx, vy in H.POLYLINES)}
        ) lj WHERE dmin <= {H.LINE_RADIUS}
        UNION ALL
        SELECT 'snap', doc, line, round(dmin, 6) FROM (
          SELECT b_id AS doc, a_id AS line, dmin,
                 row_number() OVER (PARTITION BY b_id
                                    ORDER BY dmin, a_id) AS rn
          FROM (
            {" UNION ALL ".join(
              f"SELECT CAST({lid} AS BIGINT) AS a_id,"
              f" CAST(g.doc_id AS BIGINT) AS b_id,"
              f" {H.polyline_dist_sql('g.x', 'g.y', vx, vy)} AS dmin"
              f" FROM ({geo}) g"
              for lid, vx, vy in H.POLYLINES)}
          ) sj WHERE dmin <= {H.SNAP_RADIUS}
        ) sr WHERE rn = 1
        UNION ALL
        SELECT part, a_id, b_id, dist FROM ({_match_sql}) mm
        UNION ALL
        SELECT part, a_id, b_id, dist FROM ({_sssp_sql}) sq
        UNION ALL
        SELECT part, a_id, b_id, dist FROM ({_frechet_sql}) fq
    """

    return {
        "spatial_ngq": spatial_ngq,
        "dedup_substring": dedup_substring,
        "geo_ngq": geo_ngq,
        "bpe_train": bpe_train,
        "html_extract": html_extract,
        "ann_ivf_persisted": ann_ivf_topk,
        "spatial_range": spatial_range,
        "spatial_knn": spatial_knn,
        "spatial_nearest": spatial_nearest,
        "tile_assign": tile_assign,
        "tile_rollup": tile_rollup,
        "tile_cover": tile_cover,
        "poly_cover": poly_cover,
        "cell_pyramid": cell_pyramid,
        "minhash_near_dups": minhash_near_dups,
        "dedup_pipeline": dedup_pipeline,
        "dedup_cc": dedup_cc,
        "spatial_pip": spatial_pip,
        "spatial_bounds": spatial_bounds,
        "spatial_joins": spatial_joins,
        "dedup_exact": dedup_exact,
        "text_features": text_features,
        "ann_topk": ann_topk,
        "dedup_jaccard": dedup_jaccard,
        "events_sessionize": events_sessionize,
        "agg_stats": agg_stats,
        "embedding_near_dups": embedding_near_dups,
        "simhash_dups": simhash_dups,
        "media_features": media_features,
        "media_mjpeg": media_mjpeg,
        "text_bm25": text_bm25,
        "corpus_chunks": corpus_chunks,
        "spans_invariant": spans_invariant,
        "agg_cube": agg_cube,
        "geo_knn": geo_knn,
        "geo_range": geo_range,
        "geo_pairs": geo_pairs,
        "snapshot_roundtrip": snapshot_roundtrip,
        "events_pivot": events_pivot,
        "corpus_decontam": corpus_decontam,
        "text_guards": text_guards,
        "agg_pricing": agg_pricing,
        "join_orders_nation": join_orders_nation,
        "sql_relational": sql_relational,
        "text_quality_clf": text_quality_clf,
        "cardinality_sketch": cardinality_sketch,
        "calendar_rollup": calendar_rollup,
        "window_top_orders": window_top_orders,
        "events_asof": events_asof,
        "corpus_sample": corpus_sample,
    }
