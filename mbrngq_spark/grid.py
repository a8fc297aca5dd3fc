"""Hierarchical Z-order (Morton) cell grid — the distributed index.

This replaces the reference's entire R-tree machinery (insert / chooseNode /
splitNode / adjustTree, mbR-NGQ/Data/RTree.cs:254-350,2156-2662 — see
SURVEY.md §2.1): instead of a mutable pointer tree, every document row gets a
deterministic hierarchical cell id computed by pure Column bit-arithmetic
(whole-stage codegen, no UDF). Parent cells are id truncation; neighbor rings
are integer offsets. The grid is an H3/S2-style space-filling-curve index
specialized to the reference's rectangular [minX,maxX]x[minY,maxY] space
(mbR-NGQ/Config.cs:16-19).

Resolution r means 2^r bins per axis → cell ids in [0, 4^r). A cell's parent
at resolution r-1 is ``cell >> 2`` (Morton property). Everything has a NumPy
twin for driver-side planning (the planner's window over the small
cell-stats table) and in-UDF use.

"Which cells does this box cover" is decided in one place: ``box_cover``
(index bounds, clipped to the grid) and its coordinate form
``coord_box_cover`` (corner bins from the clamped ``quantize``) explode a
row into one row per cell of its closed box, and an inverted box covers
nothing. Range and tile covers, polygon bboxes (``bbox_cover``), KDE/IDW
splats, 3×3 neighbourhoods and segment corridors all go through it — the
replicate-to-every-overlapped-cell step of a grid spatial join. Its NumPy
twin is ``range_query.covering_cells``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbrngq_spark.config import DEFAULT, EngineConfig

MAX_RES = 16  # 2^16 bins/axis → 32-bit cell ids, carried in LongType


# ---------------------------------------------------------------------------
# Column-expression encoder (JVM-side)
# ---------------------------------------------------------------------------

def _spread_bits(v: Column) -> Column:
    """Interleave zeros between the low 16 bits of ``v`` (Morton spread)."""
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x55555555))
    return v


def quantize(x: Column, lo: float, extent: float, res: int) -> Column:
    """Bin a coordinate into [0, 2^res) — clamped at the top edge so
    max_x/max_y land in the last bin (mirrors the reference treating the
    space as closed, Config.cs:16-19)."""
    n = 1 << res
    ix = F.floor((x - F.lit(lo)) / F.lit(extent) * F.lit(float(n)))
    return F.greatest(F.least(ix, F.lit(n - 1)), F.lit(0)).cast("long")


def cell_encode(x: Column, y: Column, res: int,
                cfg: EngineConfig = DEFAULT) -> Column:
    """(x, y) → Morton cell id at resolution ``res`` (pure Column math)."""
    assert 0 < res <= MAX_RES
    ix = quantize(x, cfg.min_x, cfg.width, res)
    iy = quantize(y, cfg.min_y, cfg.height, res)
    return _spread_bits(ix).bitwiseOR(F.shiftleft(_spread_bits(iy), 1)).cast("long")


def _memo_col(key: tuple, build) -> Column:
    """Session-scoped memo for expensive-to-BUILD Column expressions.

    The Morton/tile encoders cost ~70 ms of py4j round-trips per build
    (dozens of JVM calls for the bit-spread chain), and identical named-
    column requests recur several times per query plan. A Column is an
    immutable unresolved expression, safe to reuse across DataFrames of
    one SparkContext; the cache lives ON the active context object so it
    dies with the JVM gateway it references (a module-level cache would
    hand out stale JVM handles after a context restart in tests)."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    cache = sc.__dict__.setdefault("_mbrngq_colcache", {})
    col = cache.get(key)
    if col is None:
        col = cache[key] = build()
    return col


def cell_encode_named(res: int, cfg: EngineConfig = DEFAULT,
                      xname: str = "x", yname: str = "y") -> Column:
    """Memoized cell_encode over plain named columns (the common case)."""
    return _memo_col(("cell", xname, yname, res, cfg),
                     lambda: cell_encode(F.col(xname), F.col(yname), res, cfg))


def cell_from_indices(ix: Column, iy: Column) -> Column:
    """(ix, iy) grid indices → Morton cell id (callers clip to [0, 2^res))."""
    return _spread_bits(ix).bitwiseOR(F.shiftleft(_spread_bits(iy), 1)) \
        .cast("long")


Bound = str | Column  # a column name, or any Column expression
CELLS = ("ix", "iy", "cell")


def _box_cover(df: DataFrame, bounds: tuple[Bound, ...], res: int,
               cfg: EngineConfig | None, names: tuple) -> DataFrame:
    """The one grid box cover behind ``box_cover`` (``cfg`` None: index
    bounds, clipped to the grid) and ``coord_box_cover`` (coordinate
    bounds, binned by the clamped ``quantize``). Over named bounds the
    Column expressions are memoized (``_memo_col``): range queries build
    this cover on every call, and each build costs dozens of py4j calls."""
    def build():
        n = 1 << res
        c = cfg or DEFAULT  # index bounds never read the domain

        def axis(lo, hi, origin, extent):
            lo, hi = (F.col(b) if isinstance(b, str) else b for b in (lo, hi))
            if cfg is None:
                lo, hi = F.greatest(lo, F.lit(0)), F.least(hi, F.lit(n - 1))
            else:
                lo, hi = (quantize(b, origin, extent, res) for b in (lo, hi))
            # Spark's sequence counts DOWN when lo > hi: an inverted box
            # must emit nothing, so explode a null array instead
            return F.explode(F.when(lo <= hi, F.sequence(lo, hi)))

        x0, y0, x1, y1 = bounds
        ix, iy, cell = names
        cols = [(ix, axis(x0, x1, c.min_x, c.width)),
                (iy, axis(y0, y1, c.min_y, c.height))]
        if cell:
            cols.append((cell, cell_from_indices(F.col(ix), F.col(iy))))
        return cols

    if all(isinstance(b, str) for b in bounds):
        cols = _memo_col(("box", bounds, res, cfg, names), build)
    else:
        cols = build()
    for name, col in cols:
        df = df.withColumn(name, col)
    return df


def box_cover(df: DataFrame, ix0: Bound, iy0: Bound, ix1: Bound,
              iy1: Bound, res: int, names: tuple = CELLS) -> DataFrame:
    """Every planar box→cells explode goes through here: one row per grid
    cell of the CLOSED index box [ix0, ix1] × [iy0, iy1] of each row,
    clipped to the 2^res grid. ``names`` are the output columns (ix, iy,
    Morton cell; a None cell name skips the id). An inverted box (lo > hi
    on either axis) or a box wholly off the grid emits no rows. The
    explode is bounded by the box area and stays JVM-side."""
    return _box_cover(df, (ix0, iy0, ix1, iy1), res, None, names)


def coord_box_cover(df: DataFrame, x0: Bound, y0: Bound, x1: Bound,
                    y1: Bound, res: int, cfg: EngineConfig = DEFAULT,
                    names: tuple = CELLS) -> DataFrame:
    """``box_cover`` of a coordinate box [x0, x1] × [y0, y1]: the corner
    bins come from the clamped ``quantize`` (identical arithmetic to the
    oracle SQL), so a box outside the domain is pinned to its boundary
    cells; an inverted box emits no rows."""
    return _box_cover(df, (x0, y0, x1, y1), res, cfg, names)


def bbox_cover(polys: DataFrame, res: int, cfg: EngineConfig = DEFAULT,
               prefix: str = "") -> DataFrame:
    """Covering cells of each polygon row's vertex bbox: reads the vertex
    arrays ``{prefix}vx``/``{prefix}vy``, adds the bbox as ``{prefix}x0``,
    ``{prefix}x1``, ``{prefix}y0``, ``{prefix}y1`` and emits the
    ``coord_box_cover`` rows of the closed bbox at ``res`` (``ix``, ``iy``,
    ``cell``); the vertex arrays ride along, so a refine needs no join
    back."""
    x0, x1, y0, y1 = (f"{prefix}{c}" for c in ("x0", "x1", "y0", "y1"))
    p = (polys.withColumn(x0, F.array_min(f"{prefix}vx"))
         .withColumn(x1, F.array_max(f"{prefix}vx"))
         .withColumn(y0, F.array_min(f"{prefix}vy"))
         .withColumn(y1, F.array_max(f"{prefix}vy")))
    return coord_box_cover(p, x0, y0, x1, y1, res, cfg)


def cell_parent(cell: Column, levels: int = 1) -> Column:
    """Parent cell id ``levels`` resolutions up (Morton truncation)."""
    return F.shiftright(cell, 2 * levels)


def _compact_bits(v: Column) -> Column:
    """Inverse of _spread_bits: drop the interleaved zero bits."""
    v = v.bitwiseAND(F.lit(0x55555555))
    v = v.bitwiseOR(F.shiftright(v, 1)).bitwiseAND(F.lit(0x33333333))
    v = v.bitwiseOR(F.shiftright(v, 2)).bitwiseAND(F.lit(0x0F0F0F0F))
    v = v.bitwiseOR(F.shiftright(v, 4)).bitwiseAND(F.lit(0x00FF00FF))
    v = v.bitwiseOR(F.shiftright(v, 8)).bitwiseAND(F.lit(0x0000FFFF))
    return v


def cell_ix(cell: Column) -> Column:
    return _compact_bits(cell)


def cell_iy(cell: Column) -> Column:
    return _compact_bits(F.shiftright(cell, 1))


def row_major_tile_id(x: Column, y: Column, res: int,
                      cfg: EngineConfig = DEFAULT) -> Column:
    """Row-major tile id (iy * 2^res + ix) — the raster-tile layer
    (FIXTURES.md §5). Row-major keeps the oracle SQL a one-liner; the
    spatial index itself stays Morton."""
    ix = quantize(x, cfg.min_x, cfg.width, res)
    iy = quantize(y, cfg.min_y, cfg.height, res)
    return F.shiftleft(iy, res).bitwiseOR(ix).cast("long")


def row_major_tile_id_named(res: int, cfg: EngineConfig = DEFAULT,
                            xname: str = "x", yname: str = "y") -> Column:
    """Memoized row_major_tile_id over plain named columns."""
    return _memo_col(("tile", xname, yname, res, cfg),
                     lambda: row_major_tile_id(F.col(xname), F.col(yname),
                                               res, cfg))


# ---------------------------------------------------------------------------
# NumPy twins (driver-side planning / in-UDF)
# ---------------------------------------------------------------------------

def np_spread_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.int64)
    v = (v | (v << 8)) & 0x00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F
    v = (v | (v << 2)) & 0x33333333
    v = (v | (v << 1)) & 0x55555555
    return v


def np_compact_bits(v: np.ndarray) -> np.ndarray:
    v = v & 0x55555555
    v = (v | (v >> 1)) & 0x33333333
    v = (v | (v >> 2)) & 0x0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF
    return v


def np_quantize(x: np.ndarray, lo: float, extent: float, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.floor((np.asarray(x, dtype=np.float64) - lo) / extent * n).astype(np.int64)
    return np.clip(ix, 0, n - 1)


def np_cell_encode(x, y, res: int, cfg: EngineConfig = DEFAULT) -> np.ndarray:
    ix = np_quantize(x, cfg.min_x, cfg.width, res)
    iy = np_quantize(y, cfg.min_y, cfg.height, res)
    return np_spread_bits(ix) | (np_spread_bits(iy) << 1)


def np_cell_box(cell: np.ndarray, res: int, cfg: EngineConfig = DEFAULT):
    """cell ids → (xmin, ymin, xmax, ymax) arrays."""
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    ix = np_compact_bits(np.asarray(cell, dtype=np.int64))
    iy = np_compact_bits(np.asarray(cell, dtype=np.int64) >> 1)
    xmin = cfg.min_x + ix * wx
    ymin = cfg.min_y + iy * wy
    return xmin, ymin, xmin + wx, ymin + wy
