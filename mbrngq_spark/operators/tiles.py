"""Raster-tile ↔ vector assignment and rollups (north_rule operator).

Tiles are fixed-resolution grid cells (FIXTURES.md §5): ``tile_id =
iy * 2^res + ix`` (row-major — the oracle SQL stays pure arithmetic; the
spatial index itself is Morton, grid.py). Assignment is deterministic
arithmetic per doc — whole-stage codegen, zero shuffles. Rollups are one
hash aggregate keyed by tile_id; the hierarchical rollup is parent-id
truncation + re-aggregation (≡ the reference's bottom-up MBR/bitmap
maintenance, CalculateBitArray mbR-NGQ/Data/RTree.cs:209-247, as a
groupBy instead of recursion).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark import geom, grid
from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.pip import point_in_polygon_join, polygons_df
from mbrngq_spark.operators.range_query import rects_df


def assign_tiles(docs_geo: DataFrame, res: int | None = None,
                 cfg: EngineConfig = DEFAULT) -> DataFrame:
    res = cfg.tile_res if res is None else res
    return docs_geo.withColumn(
        "tile_id", grid.row_major_tile_id_named(res, cfg))


def tile_rollup(docs_geo: DataFrame, res: int | None = None,
                cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Per-tile stats: count, category bitmap, bounding box of members.

    catmask = bit_or(1 << category) ≡ the reference's per-node BitArray
    (Node.cs:37-47); n/min/max ≡ entry-count + MBR (Node.cs:137-148)."""
    res = cfg.tile_res if res is None else res
    return (assign_tiles(docs_geo, res, cfg)
            .groupBy("tile_id")
            .agg(F.count("*").alias("n_docs"),
                 F.bit_or(F.expr("shiftleft(1, category)")).cast("long").alias("catmask"),
                 F.min("x").alias("xmin"), F.min("y").alias("ymin"),
                 F.max("x").alias("xmax"), F.max("y").alias("ymax")))


def _tile_id(res: int) -> Column:
    """Row-major ``tile_id`` of the grid-index columns ``ix``/``iy``."""
    return F.shiftleft(F.col("iy"), res).bitwiseOR(F.col("ix")) \
        .cast("long").alias("tile_id")


def tile_cover(spark: SparkSession, rects: pd.DataFrame,
               res: int | None = None,
               cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Vector→raster coverage: one row per (rect, tile) for every tile the
    CLOSED rect overlaps — the rasterization half of raster↔vector
    assignment (tile_vector_assignment is the point-aggregation half).
    The rows are the engine's one box cover (``grid.coord_box_cover``:
    corner bins from the clamped ``quantize``, identical arithmetic to the
    SQL oracle) over ``range_query.rects_df``; the explode is bounded by
    the coverage area, stays JVM-side, and shuffles nothing. An inverted
    rect (xmin > xmax or ymin > ymax) covers no tile.

    Rects that do not intersect the configured domain
    [min_x, min_x+width] × [min_y, min_y+height] emit ZERO rows (the
    quantize clamp would otherwise pin them to boundary tiles — false
    coverage); the oracle SQL mirrors the same WHERE."""
    res = cfg.tile_res if res is None else res
    r = rects_df(spark, rects).filter(
        (F.col("xmax") >= F.lit(cfg.min_x))
        & (F.col("xmin") <= F.lit(cfg.min_x + cfg.width))
        & (F.col("ymax") >= F.lit(cfg.min_y))
        & (F.col("ymin") <= F.lit(cfg.min_y + cfg.height)))
    return (grid.coord_box_cover(r, "xmin", "ymin", "xmax", "ymax", res, cfg)
            .select("rect_id", _tile_id(res), "ix", "iy"))


def tile_vector_assignment(spark: SparkSession, docs_geo: DataFrame,
                           polygons: pd.DataFrame, res: int | None = None,
                           cfg: EngineConfig = DEFAULT) -> DataFrame:
    """raster↔vector: per (polygon, tile), how many docs of the polygon fall
    in the tile — PIP join then tile rollup (north_rule 'tile assignments')."""
    res = cfg.tile_res if res is None else res
    inside = point_in_polygon_join(spark, docs_geo, polygons, cfg=cfg)
    return (inside
            .withColumn("tile_id",
                        grid.row_major_tile_id(F.col("x"), F.col("y"), res, cfg))
            .groupBy("poly_id", "tile_id")
            .agg(F.count("*").alias("n_docs")))


def polygon_cover(spark: SparkSession, polygons: pd.DataFrame,
                  res: int | None = None,
                  cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Vector→raster for POLYGON geometries: one row per (polygon, tile)
    for every tile whose CENTER lies inside the polygon (even-odd rule —
    arbitrary concave polygons). Candidate tiles come from the polygon's
    bbox cover (``grid.bbox_cover``, bounded JVM explode); the refine is
    the PIP join's PNPOLY fold (``geom.pnpoly``) over the tile centers.
    Map-only, pure Column end to end — no shuffle, no Python.

    ``polygons``: pandas (poly_id, vx: list[float], vy: list[float]).
    Returns (poly_id, tile_id, ix, iy)."""
    res = cfg.tile_res if res is None else res
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    cx = F.lit(cfg.min_x) + (F.col("ix") + 0.5) * F.lit(wx)
    cy = F.lit(cfg.min_y) + (F.col("iy") + 0.5) * F.lit(wy)
    return (grid.bbox_cover(polygons_df(spark, polygons), res, cfg)
            .filter(geom.pnpoly(cx, cy, F.col("vx"), F.col("vy")))
            .select("poly_id", _tile_id(res), "ix", "iy"))


def tile_distinct_pyramid(docs_geo: DataFrame, item_col: str,
                          levels: list[int],
                          cfg: EngineConfig = DEFAULT) -> DataFrame:
    """(res, cell, register, rho): distinct-``item_col`` HLL sketches per
    MORTON cell at every pyramid level — "distinct visitors per tile at
    every zoom" without ever counting twice.

    Items are hashed and aggregated ONCE at the finest level; each
    coarser level is a register-wise max rollup through Morton parent
    truncation (grid.cell_parent), i.e. a sketch MERGE of the four
    children — the sketch-tier analog of the reference's bottom-up
    CalculateBitArray pyramid (RTree.cs:209-247). At 100 TB the corpus
    is read once and every subsequent level aggregates ≤ 4^res·256
    register rows. Register-exactness of the rollup (merge == direct
    build at the coarse res) is guaranteed by cell_parent ∘ cell_encode
    being pure Morton truncation, and pytest-asserted."""
    from mbrngq_spark.operators.sketch import hll_sketch
    levels = sorted(set(levels), reverse=True)
    finest = levels[0]
    base = docs_geo.withColumn(
        "cell", grid.cell_encode(F.col("x"), F.col("y"), finest, cfg))
    cur = hll_sketch(base, ["cell"], item_col)
    out = cur.withColumn("res", F.lit(finest).cast("int"))
    for res in levels[1:]:
        delta = finest - res
        cur = (cur.withColumn("cell", grid.cell_parent(F.col("cell"), delta))
               .groupBy("cell", "register")
               .agg(F.max("rho").alias("rho")))
        finest = res
        out = out.unionByName(
            cur.withColumn("res", F.lit(res).cast("int")))
    return out.select("res", "cell", "register", "rho")


def zonal_stats(spark: SparkSession, docs_geo: DataFrame,
                polygons: pd.DataFrame, res: int | None = None,
                cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Zonal statistics — the classic raster-over-zones aggregate: per
    polygon, (sum_docs, n_tiles, max_docs) over the tiles whose center
    the polygon contains. Composition of the two primitives the engine
    already trusts: polygon_cover (zones→tiles) LEFT-joined to
    tile_rollup (the raster), one keyed aggregation. ``n_tiles`` counts
    EVERY covered tile (empty ones included — the left join + coalesce),
    sum/max treat empty tiles as 0. At scale the cover side is
    O(zone area / cell area) rows — compact_cover + broadcast when the
    zone set is small, plain shuffle join otherwise."""
    cover = polygon_cover(spark, polygons, res, cfg)
    roll = tile_rollup(docs_geo, res, cfg).select("tile_id", "n_docs")
    nd = F.coalesce(F.col("n_docs"), F.lit(0))
    return (cover.join(roll, "tile_id", "left")
            .groupBy("poly_id")
            .agg(F.sum(nd).alias("sum_docs"),
                 F.count(F.lit(1)).alias("n_tiles"),
                 F.max(nd).alias("max_docs")))


def _radius_cover(docs_geo: DataFrame, r: float, res: int,
                  cfg: EngineConfig) -> DataFrame:
    """Each doc × the grid cells ``ix``/``iy`` of its box x ± r, y ± r."""
    x, y, d = F.col("x"), F.col("y"), F.lit(r)
    return grid.coord_box_cover(docs_geo, x - d, y - d, x + d, y + d, res,
                                cfg, names=("ix", "iy", None))


def _count_raster(docs_geo: DataFrame, res: int,
                  cfg: EngineConfig) -> DataFrame:
    """The doc-count raster: (ix, iy, n_docs) per nonempty cell."""
    return (docs_geo
            .select(grid.quantize(F.col("x"), cfg.min_x, cfg.width,
                                  res).alias("ix"),
                    grid.quantize(F.col("y"), cfg.min_y, cfg.height,
                                  res).alias("iy"))
            .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n_docs")))


def _splat3(base: DataFrame, res: int) -> DataFrame:
    """Each raster row × its in-grid 3×3 neighbourhood ``tx``/``ty``."""
    ix, iy = F.col("ix"), F.col("iy")
    return grid.box_cover(base, ix - 1, iy - 1, ix + 1, iy + 1, res,
                          names=("tx", "ty", None))


HEAT_QUANT = 1e9  # tile_heatmap's int64 weight scale: density = wq / quant


def tile_heatmap(docs_geo: DataFrame, h: float, res: int,
                 cfg: EngineConfig = DEFAULT,
                 quant: float = HEAT_QUANT) -> DataFrame:
    """Kernel-density heatmap per Morton cell: every doc splats the
    Epanechnikov-family biweight kernel w = (1 − d²/h²)² onto each cell
    whose CENTER lies within bandwidth ``h`` (d = doc→center distance).

    Deliberately NOT a Gaussian: exp() is libm (JVM and DuckDB differ by
    ~1 ulp — CLAUDE.md trig/log discipline), while the biweight is
    +,-,*,/ only, bit-identical across engines. Each per-(doc, cell)
    weight is quantized to int64 (round(w·quant), HALF_UP in both
    engines) BEFORE the sum, so the aggregate is exactly associative —
    shuffle order can't change it. Shape at scale: a doc emits the
    ≤ (2h/cellw + 2)² cells of its bandwidth bbox (the grid box cover,
    ``grid.coord_box_cover``: bounded JVM explode, no Python), one
    map-side-combinable sum per cell — map-only + a
    single keyed aggregation; per-cell int64 sums hold ~9·10^9 docs per
    cell before overflow (a per-CELL bound, not per-corpus).

    Returns (cell, ix, iy, n_docs, wq, density) with density = wq/quant.
    """
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    h2 = h * h  # Python-folded literal — the oracle embeds the same repr
    cx = F.lit(cfg.min_x) + (F.col("ix") + 0.5) * F.lit(wx)
    cy = F.lit(cfg.min_y) + (F.col("iy") + 0.5) * F.lit(wy)
    d2 = ((F.col("x") - F.col("__cx")) * (F.col("x") - F.col("__cx"))
          + (F.col("y") - F.col("__cy")) * (F.col("y") - F.col("__cy")))
    w = (F.lit(1.0) - F.col("__d2") / F.lit(h2)) \
        * (F.lit(1.0) - F.col("__d2") / F.lit(h2))
    return (_radius_cover(docs_geo, h, res, cfg)
            .withColumn("__cx", cx).withColumn("__cy", cy)
            .withColumn("__d2", d2)
            .filter(F.col("__d2") <= F.lit(h2))
            .withColumn("__wq", F.round(w * F.lit(quant)).cast("long"))
            .groupBy("ix", "iy")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__wq").alias("wq"))
            .select(grid.cell_from_indices(F.col("ix"),
                                           F.col("iy")).alias("cell"),
                    F.col("ix").cast("long").alias("ix"),
                    F.col("iy").cast("long").alias("iy"),
                    "n_docs", "wq",
                    (F.col("wq") / F.lit(quant)).alias("density")))


def focal_stats(docs_geo: DataFrame, res: int,
                cfg: EngineConfig = DEFAULT) -> DataFrame:
    """3×3 focal map algebra over the count raster (the classic raster
    "focal sum / focal max" neighborhood operation): for every cell
    within one step of a nonempty cell, aggregate the 8-neighborhood
    (plus self) of per-cell doc counts.

    Implemented as a SPLAT, not a join: the corpus collapses to the cell
    raster first (one keyed aggregation), then each nonempty cell emits
    its ≤9 in-bounds neighbor targets (the grid box cover of its 3×3
    neighbourhood, ``grid.box_cover``: a bounded JVM explode clipped to
    the grid) and ONE second keyed aggregation produces every focal stat — no
    self-join, no driver loop. At 100 TB the first aggregation is the
    only corpus-sized stage; the splat is 9×|nonempty cells| rows.
    Empty cells inside a neighborhood contribute 0 (sum/max semantics);
    cells farther than one step from any doc are not emitted (their
    focal stats are identically 0 — the raster analog of an outer join
    nobody reads).

    Returns (cell, ix, iy, focal_sum, focal_max, n_nonempty)."""
    return (_splat3(_count_raster(docs_geo, res, cfg), res)
            .groupBy("tx", "ty")
            .agg(F.sum("n_docs").alias("focal_sum"),
                 F.max("n_docs").alias("focal_max"),
                 F.count(F.lit(1)).alias("n_nonempty"))
            .select(grid.cell_from_indices(F.col("tx"),
                                           F.col("ty")).alias("cell"),
                    F.col("tx").alias("ix"), F.col("ty").alias("iy"),
                    "focal_sum", "focal_max", "n_nonempty"))


def hotspot_gi(docs_geo: DataFrame, res: int,
               cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Getis-Ord Gi* hot-spot statistic per raster cell — the standard
    local spatial-autocorrelation z-score over the doc-count raster with
    binary 3×3 weights (self included, Gi-star form):

        Gi* = (S_i − x̄·W_i) / (S·sqrt((N·W_i − W_i²)/(N − 1)))

    where S_i = focal sum, W_i = in-bounds neighborhood size (ix/iy
    edge-clamped), N = 4^res raster cells (empty cells are x_j = 0
    population members — the classic raster convention), x̄ = total/N,
    S = sqrt(sumsq/N − x̄²).

    Cross-engine exactness: every input is an exact int64 (counts,
    squared counts, W_i), and the score is a fixed dag of /,*,−,sqrt
    over them — IEEE-correctly-rounded ops on identical operands are
    bit-identical in the JVM and DuckDB (no libm). The global (total,
    sumsq) row is a broadcast scalar, not a shuffle.

    Emitted for cells with a nonzero neighborhood (S_i > 0); all-empty
    neighborhoods have the constant score −x̄·W_i/denom that nobody maps.
    Returns (cell, ix, iy, w_i, s_i, gi)."""
    n = 1 << res
    base = _count_raster(docs_geo, res, cfg)
    gi = _gi_star(base, _splat3(base, res),
                  _edge_w("tx", n) * _edge_w("ty", n), n)
    return gi.select(
        grid.cell_from_indices(F.col("tx"), F.col("ty")).alias("cell"),
        F.col("tx").alias("ix"), F.col("ty").alias("iy"),
        "w_i", "s_i", "gi")


def _edge_w(c: str, n: int) -> Column:
    """The in-grid width of a 3-cell neighbourhood along one axis of an
    n-cell grid: 3 minus the clamps at index 0 and n − 1 of column ``c``."""
    return (F.lit(3) - (F.col(c) == 0).cast("int")
            - (F.col(c) == n - 1).cast("int"))


def _gi_star(base: DataFrame, splat: DataFrame, w_i: Column,
             n: int) -> DataFrame:
    """The Gi* score of both metrics (see hotspot_gi) over an n×n count
    raster: ``base`` is the (ix, iy, n_docs) raster, ``splat`` its rows
    × their neighbourhood targets ``tx``/``ty`` (the metric's topology),
    ``w_i`` the neighbourhood size as a Column over ``tx``/``ty``.
    Returns (tx, ty, w_i, s_i, gi)."""
    nn = float(n * n)
    glob = base.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.sum(F.col("n_docs") * F.col("n_docs")).cast("long").alias("sumsq"))
    focal = (splat
             .groupBy("tx", "ty")
             .agg(F.sum("n_docs").cast("long").alias("s_i")))
    out = (focal.crossJoin(F.broadcast(glob))
           .withColumn("w_i", w_i.cast("long")))
    xbar = F.col("total").cast("double") / F.lit(nn)
    s_dev = F.sqrt(F.col("sumsq").cast("double") / F.lit(nn) - xbar * xbar)
    w_d = F.col("w_i").cast("double")
    denom = s_dev * F.sqrt((F.lit(nn) * w_d - w_d * w_d)
                           / F.lit(nn - 1.0))
    gi = (F.col("s_i").cast("double") - xbar * w_d) / denom
    return out.select("tx", "ty", "w_i", "s_i", gi.alias("gi"))


def moran_i(docs_geo: DataFrame, res: int,
            cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Global Moran's I spatial autocorrelation over the doc-count
    raster with binary 3×3 weights EXCLUDING self (the global companion
    of hotspot_gi; empty cells are x=0 population members, N = 4^res):

        I = (N/W)·Σᵢⱼ wᵢⱼ(xᵢ−x̄)(xⱼ−x̄) / Σᵢ(xᵢ−x̄)²

    expanded so every corpus-sized quantity is an exact int64:
    Σᵢⱼ wᵢⱼxᵢxⱼ = crossnum (directed nonempty neighbor-pair product
    sum), Σᵢⱼ wᵢⱼ(xᵢ+xⱼ) = 2·Σᵢ xᵢ·Wᵢᵉˣ (symmetry; empty cells
    contribute 0), W = Σ over ALL cells of Wᵢᵉˣ = (3n−2)² − n² (closed
    form — Σ of the edge-clamped 3×3 size is (3n−2) per axis). The
    final score is a fixed /,*,−,+ dag over those ints — bit-identical
    across engines.

    Shape at scale: corpus → raster (one agg), raster self-join on the
    9-cell splat (cell-count-sized, broadcastable), two scalar
    aggregates. Returns ONE row (total, sumsq, sumxw, crossnum, w_tot,
    moran)."""
    n = 1 << res
    nn = float(n * n)
    w_tot = (3 * n - 2) ** 2 - n * n
    base = _count_raster(docs_geo, res, cfg)
    glob = base.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.sum(F.col("n_docs") * F.col("n_docs")).cast("long").alias("sumsq"),
        F.sum(F.col("n_docs")
              * (_edge_w("ix", n) * _edge_w("iy", n) - F.lit(1))
              .cast("long"))
        .cast("long").alias("sumxw"))
    spl = _splat3(base, res).filter((F.col("tx") != F.col("ix"))
                                    | (F.col("ty") != F.col("iy")))
    tgt = base.select(F.col("ix").alias("tx"), F.col("iy").alias("ty"),
                      F.col("n_docs").alias("c_tgt"))
    cross = (spl.join(tgt, ["tx", "ty"])
             .agg(F.sum(F.col("n_docs") * F.col("c_tgt")).cast("long")
                  .alias("crossnum")))
    one = cross.crossJoin(F.broadcast(glob))
    xbar = F.col("total").cast("double") / F.lit(nn)
    num = (F.col("crossnum").cast("double")
           - xbar * (F.lit(2.0) * F.col("sumxw").cast("double"))
           + xbar * xbar * F.lit(float(w_tot)))
    den = (F.col("sumsq").cast("double")
           - F.col("total").cast("double")
           * F.col("total").cast("double") / F.lit(nn))
    moran = F.lit(nn / float(w_tot)) * num / den
    return one.select("total", "sumsq", "sumxw", "crossnum",
                      F.lit(w_tot).cast("long").alias("w_tot"),
                      moran.alias("moran"))


def idw_interpolate(docs_geo: DataFrame, value_col: str, radius: float,
                    res: int, cfg: EngineConfig = DEFAULT,
                    smooth: float = 0.5, quant: float = 1e9) -> DataFrame:
    """Inverse-distance-weighted interpolation of a per-doc value onto
    the raster: v̂(cell) = Σ wᵢ·vᵢ / Σ wᵢ over the sample docs within
    ``radius`` of the cell center, with the smoothed IDW weight
    w = 1/(d² + smooth²) (the smoothing term is the standard guard that
    also bounds w ≤ 1/smooth², keeping the int64 quantization
    overflow-free: per-cell sums hold ~2^63/(quant/smooth²) samples).

    Same splat shape as tile_heatmap: each doc emits the ≤(2r/cellw+2)²
    cells of its radius bbox via the grid box cover
    (``grid.coord_box_cover``, bounded JVM explode) — map-only plus ONE
    keyed aggregation, no join. Both wᵢ·vᵢ and wᵢ are quantized to int64
    (round·quant, HALF_UP both engines — weights and values are
    nonnegative) BEFORE the sums, so the aggregate is exactly
    associative and the final division is one double op on exact ints —
    bit-identical cross-engine.

    Returns (cell, ix, iy, n_samples, numq, denq, value)."""
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    r2 = radius * radius
    s2 = smooth * smooth
    cx = F.lit(cfg.min_x) + (F.col("ix") + 0.5) * F.lit(wx)
    cy = F.lit(cfg.min_y) + (F.col("iy") + 0.5) * F.lit(wy)
    d2 = ((F.col("x") - F.col("__cx")) * (F.col("x") - F.col("__cx"))
          + (F.col("y") - F.col("__cy")) * (F.col("y") - F.col("__cy")))
    w = F.lit(1.0) / (F.col("__d2") + F.lit(s2))
    return (_radius_cover(docs_geo, radius, res, cfg)
            .withColumn("__cx", cx).withColumn("__cy", cy)
            .withColumn("__d2", d2)
            .filter(F.col("__d2") <= F.lit(r2))
            .withColumn("__numq", F.round(w * F.col(value_col)
                                          * F.lit(quant)).cast("long"))
            .withColumn("__denq", F.round(w * F.lit(quant)).cast("long"))
            .groupBy("ix", "iy")
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.sum("__numq").alias("numq"),
                 F.sum("__denq").alias("denq"))
            .select(grid.cell_from_indices(F.col("ix"),
                                           F.col("iy")).alias("cell"),
                    F.col("ix").cast("long").alias("ix"),
                    F.col("iy").cast("long").alias("iy"),
                    "n_samples", "numq", "denq",
                    (F.col("numq").cast("double")
                     / F.col("denq").cast("double")).alias("value")))


# marching-squares case table: case (b0=v00, b1=v10, b2=v11, b3=v01,
# CCW from bottom-left) → list of (edge_a, edge_b) segments; edges
# 0=bottom(v00→v10) 1=right(v10→v11) 2=top(v01→v11) 3=left(v00→v01).
# Saddles (5, 10) use the FIXED disconnected resolution — deterministic,
# no center-sample decision, identical in every engine.
MS_CASES: dict[int, list[tuple[int, int]]] = {
    1: [(3, 0)], 2: [(0, 1)], 3: [(3, 1)], 4: [(1, 2)],
    5: [(3, 2), (0, 1)], 6: [(0, 2)], 7: [(3, 2)], 8: [(2, 3)],
    9: [(0, 2)], 10: [(0, 3), (1, 2)], 11: [(1, 2)], 12: [(1, 3)],
    13: [(0, 1)], 14: [(3, 0)],
}


def contour_segments(docs_geo: DataFrame, h: float, res: int,
                     threshold: int, cfg: EngineConfig = DEFAULT,
                     quant: float = 1e9) -> DataFrame:
    """Marching-squares isoline extraction (raster→vector: "the density
    contour at level T") over the int64-quantized biweight KDE raster —
    one segment set per grid square whose corners straddle ``threshold``
    (an int64 in the same quantized units as tile_heatmap's wq).

    Exactness: corner values are the exactly-associative heatmap sums
    (missing cells = 0); the corner predicate is an integer comparison;
    the crossing parameter t = (T − va)/(vb − va) is ONE double division
    of exact ints and the endpoint is +,* over it — bit-identical across
    engines (incl. the saddle cases, which use a fixed resolution).

    Shape at scale: the raster splats its ≤4 incident squares (bounded
    explode), ONE keyed aggregation pivots the 4 corners, the case→edge
    table (≤ 2 rows/case) broadcast-joins, and the interpolation is pure
    Column math. Returns (ix, iy, seg, case_id, x1, y1, x2, y2) with
    (ix, iy) the square's lower-left cell."""
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    heat = tile_heatmap(docs_geo, h, res, cfg, quant) \
        .select("ix", "iy", "wq")
    # splat each cell value to the ≤4 squares it corners;
    # corner index within square (dx, dy): 0=(0,0) 1=(1,0) 2=(1,1) 3=(0,1)
    sq = (heat
          .withColumn("sx", F.explode(F.sequence(F.col("ix") - 1,
                                                 F.col("ix"))))
          .withColumn("sy", F.explode(F.sequence(F.col("iy") - 1,
                                                 F.col("iy"))))
          .filter((F.col("sx") >= 0) & (F.col("sx") <= n - 2)
                  & (F.col("sy") >= 0) & (F.col("sy") <= n - 2)))
    dx = F.col("ix") - F.col("sx")
    dy = F.col("iy") - F.col("sy")
    # CCW corner index: (0,0)→0 (1,0)→1 (1,1)→2 (0,1)→3
    corner = (F.when((dx == 0) & (dy == 0), 0)
              .when((dx == 1) & (dy == 0), 1)
              .when((dx == 1) & (dy == 1), 2)
              .otherwise(3))
    grid_sq = (sq.withColumn("c", corner)
               .groupBy("sx", "sy")
               .agg(*[F.coalesce(F.max(F.when(F.col("c") == k,
                                              F.col("wq"))),
                                 F.lit(0)).alias(f"v{k}")
                      for k in range(4)]))
    t_ = F.lit(int(threshold))
    case = ((F.col("v0") > t_).cast("int")
            + (F.col("v1") > t_).cast("int") * 2
            + (F.col("v2") > t_).cast("int") * 4
            + (F.col("v3") > t_).cast("int") * 8)
    cases_rows = [(c, s, ea, eb)
                  for c, segs in MS_CASES.items()
                  for s, (ea, eb) in enumerate(segs)]
    spark = docs_geo.sparkSession
    ctab = spark.createDataFrame(
        cases_rows, "case_id int, seg int, e_a int, e_b int")
    with_case = (grid_sq.withColumn("case_id", case)
                 .filter((F.col("case_id") > 0) & (F.col("case_id") < 15))
                 .join(F.broadcast(ctab), "case_id"))

    # edge endpoints in corner-value space and center coordinates:
    # edge e runs corner CA(e) → CB(e): 0: 0→1, 1: 1→2, 2: 3→2, 3: 0→3
    ca = {0: 0, 1: 1, 2: 3, 3: 0}
    cb = {0: 1, 1: 2, 2: 2, 3: 3}
    # corner center coords (square sx, sy; corner k): x = min_x +
    # (sx + (k in {1,2}) + 0.5)·wx, y = min_y + (sy + (k in {2,3}) + 0.5)·wy
    def _cx(k):
        return F.lit(cfg.min_x) + (F.col("sx")
                                   + F.lit(1 if k in (1, 2) else 0)
                                   + F.lit(0.5)) * F.lit(wx)

    def _cy(k):
        return F.lit(cfg.min_y) + (F.col("sy")
                                   + F.lit(1 if k in (2, 3) else 0)
                                   + F.lit(0.5)) * F.lit(wy)

    def _v(k):
        return F.col(f"v{k}")

    # one (x, y) per edge id via a when-chain; t = (T−va)/(vb−va) is a
    # double division of exact ints (nonzero: a referenced edge always
    # straddles T)
    def _pt_chain(edge_col):
        xs, ys = None, None
        for e in (0, 1, 2, 3):
            a, b = ca[e], cb[e]
            tt = (t_ - _v(a)).cast("double") \
                / (_v(b) - _v(a)).cast("double")
            ex = _cx(a) + tt * (_cx(b) - _cx(a))
            ey = _cy(a) + tt * (_cy(b) - _cy(a))
            cond = edge_col == F.lit(e)
            xs = F.when(cond, ex) if xs is None else xs.when(cond, ex)
            ys = F.when(cond, ey) if ys is None else ys.when(cond, ey)
        return xs, ys

    x1, y1 = _pt_chain(F.col("e_a"))
    x2, y2 = _pt_chain(F.col("e_b"))
    return with_case.select(
        F.col("sx").alias("ix"), F.col("sy").alias("iy"),
        F.col("seg").cast("long").alias("seg"),
        F.col("case_id").cast("long").alias("case_id"),
        F.col("e_a").cast("long").alias("e_a"),
        F.col("e_b").cast("long").alias("e_b"),
        x1.alias("x1"), y1.alias("y1"), x2.alias("x2"), y2.alias("y2"))


def _lattice_edge_key(sx: Column, sy: Column, e: Column, n: int) -> Column:
    """Canonical key of the corner-lattice edge a square edge lies on:
    horizontal edges (square edges 0=bottom / 2=top) key to
    ((row·n + col)·2); vertical edges (1=right / 3=left) to (…·2 + 1) —
    the two squares sharing a lattice edge derive the SAME key, which is
    what links their contour segments."""
    col = F.when(e == 1, sx + 1).otherwise(sx)
    row = F.when(e == 2, sy + 1).otherwise(sy)
    vert = ((e == 1) | (e == 3)).cast("long")
    return (row * n + col) * 2 + vert


def contour_components(docs_geo: DataFrame, h: float, res: int,
                       threshold: int, cfg: EngineConfig = DEFAULT,
                       quant: float = 1e9) -> DataFrame:
    """Isoline ASSEMBLY: label every contour segment with its connected
    contour (curve) id — marching squares emits unordered segments; two
    segments belong to the same curve iff they cross the same
    corner-lattice edge (each crossed lattice edge hosts exactly the two
    segments of its adjacent squares, or one at the raster boundary), so
    the contour graph has max degree 2 and its components ARE the
    curves. Labels come from the alternating-star CC (graph.py, the
    dedup-closure algorithm), label = min segment node id.

    Returns (node, ix, iy, seg, contour) with node = (ix·n + iy)·4 + seg."""
    from mbrngq_spark.operators.graph import connected_components

    n = 1 << res
    segs = contour_segments(docs_geo, h, res, threshold, cfg, quant)
    node = (F.col("ix") * n + F.col("iy")) * 4 + F.col("seg")
    keyed = (segs
             .withColumn("node", node)
             .withColumn("key_a", _lattice_edge_key(
                 F.col("ix"), F.col("iy"), F.col("e_a"), n))
             .withColumn("key_b", _lattice_edge_key(
                 F.col("ix"), F.col("iy"), F.col("e_b"), n)))
    ends = (keyed.select("node", F.col("key_a").alias("key"))
            .unionByName(keyed.select("node", F.col("key_b").alias("key"))))
    a = ends.select(F.col("key"), F.col("node").alias("id_a"))
    b = ends.select(F.col("key"), F.col("node").alias("id_b"))
    pairs = (a.join(b, "key")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    comp = connected_components(pairs)
    return (keyed.select("node", "ix", "iy", "seg")
            .join(comp.withColumnRenamed("id", "node"), "node", "left")
            .select("node", "ix", "iy", "seg",
                    F.coalesce(F.col("component"), F.col("node"))
                    .alias("contour")))


def compact_cover(cells: DataFrame, res: int, min_res: int = 0,
                  key_cols: list[str] | None = None) -> DataFrame:
    """S2/H3-style cell-cover COMPACTION: wherever all 4 children of a
    Morton parent are present (per key), replace them with the parent,
    repeating up to ``min_res`` — a cover of big regions shrinks from
    O(area/finest-cell) rows to O(boundary) rows, which is what makes
    shipping covers as broadcast join sides viable at planetary scale
    (the reference's fixed-res rasterization has no analog;
    RTree.cs covers are per-query transient).

    ``cells`` carries (key_cols..., cell) at resolution ``res`` —
    DISTINCT per key (a cover is a set); output is (key_cols..., cell,
    res) with MIXED resolutions whose implied leaf sets partition the
    input exactly (pytest: re-expansion == input). res − min_res
    rounds; each is ONE window count partitioned by (keys, parent) —
    no join, no second shuffle: a parent with all 4 children present
    is emitted ONCE via its (cell & 3) == 0 representative child
    (guaranteed present exactly when the block is full), the rest
    keep their cells. Work shrinks ≥4× per promoted block per round —
    never item- or area-scaled beyond the first round."""
    from pyspark.sql import Window

    keys = key_cols or []
    cur = cells.select(*keys, "cell") \
        .withColumn("res", F.lit(res).cast("int"))
    done = []
    for r in range(res, min_res, -1):
        lvl = (cur.withColumn("parent", grid.cell_parent(F.col("cell")))
               .withColumn("__n", F.count(F.lit(1)).over(
                   Window.partitionBy(*keys, "parent"))))
        done.append(lvl.filter(F.col("__n") < 4)
                    .select(*keys, "cell", "res"))
        cur = (lvl.filter((F.col("__n") == 4)
                          & (F.col("cell").bitwiseAND(F.lit(3)) == 0))
               .select(*keys, F.col("parent").alias("cell"),
                       F.lit(r - 1).cast("int").alias("res")))
    out = cur
    for d in done:
        out = out.unionByName(d)
    return out


def expand_cover(cover: DataFrame, res: int,
                 key_cols: list[str] | None = None) -> DataFrame:
    """Inverse of compact_cover: every (cell, res=r) row explodes into
    its 4^(res−r) descendant leaves at ``res`` (JVM sequence/explode —
    no Python)."""
    keys = key_cols or []
    # SQL shiftleft accepts a column bit count (the PySpark wrapper
    # F.shiftleft requires an int literal)
    span = F.expr(f"shiftleft(CAST(1 AS BIGINT), ({res} - res) * 2)")
    base = F.expr(f"shiftleft(CAST(cell AS BIGINT), ({res} - res) * 2)")
    return (cover.withColumn(
        "cell", F.explode(F.sequence(base, base + span - F.lit(1))))
        .select(*keys, "cell"))
