"""Cell-grid invariants (SURVEY.md §5d): encode/decode bijectivity per
resolution, parent truncation, Column↔NumPy twin agreement, cell boxes
and the box cover."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.config import DEFAULT


def test_np_encode_decode_roundtrip():
    rng = np.random.default_rng(7)
    for res in (1, 3, 6, 10, 16):
        n = 1 << res
        ix = rng.integers(0, n, 200)
        iy = rng.integers(0, n, 200)
        cell = grid.np_spread_bits(ix) | (grid.np_spread_bits(iy) << 1)
        assert (grid.np_compact_bits(cell) == ix).all()
        assert (grid.np_compact_bits(cell >> 1) == iy).all()
        assert (cell < 4 ** res).all()


def test_column_matches_numpy(spark):
    rng = np.random.default_rng(11)
    x = rng.uniform(0, 100, 500)
    y = rng.uniform(0, 100, 500)
    df = spark.createDataFrame(pd.DataFrame(dict(x=x, y=y)))
    for res in (4, 6, 12):
        got = df.select(grid.cell_encode(F.col("x"), F.col("y"), res).alias("c")) \
                .toPandas()["c"].to_numpy()
        np.testing.assert_array_equal(got, grid.np_cell_encode(x, y, res))


def test_edge_clamping(spark):
    # max_x / max_y land in the last bin, not one past it
    df = spark.createDataFrame(pd.DataFrame(dict(x=[100.0, 0.0], y=[100.0, 0.0])))
    res = 6
    got = df.select(grid.cell_encode(F.col("x"), F.col("y"), res).alias("c")).toPandas()
    assert got["c"].iloc[0] == 4 ** res - 1
    assert got["c"].iloc[1] == 0


def test_parent_truncation(spark):
    x, y = np.array([37.21]), np.array([81.03])
    fine = int(grid.np_cell_encode(x, y, 8)[0])
    coarse = int(grid.np_cell_encode(x, y, 6)[0])
    assert fine >> 4 == coarse
    got = spark.range(1).select(
        grid.cell_parent(F.lit(fine), 2).alias("p")).collect()[0].p
    assert got == coarse


def test_cell_box_contains_point():
    rng = np.random.default_rng(3)
    x = rng.uniform(0, 100, 300)
    y = rng.uniform(0, 100, 300)
    res = 7
    cell = grid.np_cell_encode(x, y, res)
    xmin, ymin, xmax, ymax = grid.np_cell_box(cell, res)
    assert (x >= xmin).all() and (x <= xmax).all()
    assert (y >= ymin).all() and (y <= ymax).all()


def test_row_major_tile_id(spark):
    df = spark.createDataFrame(pd.DataFrame(dict(x=[0.0, 99.9], y=[0.0, 99.9])))
    res = 3  # 8x8
    got = df.select(grid.row_major_tile_id(F.col("x"), F.col("y"), res).alias("t")) \
            .toPandas()["t"].tolist()
    assert got == [0, 63]


def test_box_cover_clips_and_drops_inverted(spark):
    """Index-form box cover == Python enumeration of the closed box
    clipped to the grid; inverted and off-grid boxes emit nothing."""
    res, n = 3, 8
    boxes = [(0, 0, 0, 2, 3), (1, -2, 5, 1, 9), (2, 7, 7, 12, 7),
             (3, 4, 1, 2, 5), (4, 1, 6, 3, 5), (5, -4, -4, -1, 3),
             (6, 8, 0, 9, 2), (7, -3, -3, 20, 20)]
    df = spark.createDataFrame(
        pd.DataFrame(boxes, columns=["b", "x0", "y0", "x1", "y1"]))
    got = (grid.box_cover(df, "x0", "y0", "x1", "y1", res)
           .select("b", "ix", "iy", "cell").toPandas())
    exp = {(b, ix, iy, int(grid.np_spread_bits(np.array([ix]))[0]
                           | (grid.np_spread_bits(np.array([iy]))[0] << 1)))
           for b, x0, y0, x1, y1 in boxes
           for ix in range(max(x0, 0), min(x1, n - 1) + 1)
           for iy in range(max(y0, 0), min(y1, n - 1) + 1)}
    assert len(got) == len(exp)
    assert set(map(tuple, got.values.tolist())) == exp
    # over named bounds the Column expressions are built once per session
    cache = spark.sparkContext.__dict__["_mbrngq_colcache"]
    size = len(cache)
    grid.box_cover(df, "x0", "y0", "x1", "y1", res)
    assert len(cache) == size
