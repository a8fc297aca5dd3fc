"""Polyline distance join vs a NumPy brute-force point-segment oracle —
exact pair set AND exact (unrounded) min distances; degenerate-segment
guard; polyline_length fold."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark import harness as H
from mbrngq_spark.functions import derive
from mbrngq_spark.operators.lines import (polyline_distance_join,
                                          polyline_length)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs_geo(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return derive.with_geometry(docs).select("doc_id", "x", "y")


@pytest.fixture(scope="module")
def lines_df(spark):
    return spark.createDataFrame(
        pd.DataFrame({"line_id": [l[0] for l in H.POLYLINES],
                      "vx": [l[1] for l in H.POLYLINES],
                      "vy": [l[2] for l in H.POLYLINES]}),
        "line_id long, vx array<double>, vy array<double>")


def _np_seg_dist(px, py, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    len2 = dx * dx + dy * dy
    if len2 == 0:
        t = np.zeros_like(px)
    else:
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / len2, 0.0, 1.0)
    qx, qy = ax + t * dx, ay + t * dy
    return np.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))


def test_polyline_join_matches_numpy_oracle(spark, docs_geo, lines_df):
    got = {(int(r.line_id), int(r.doc_id)): r.dist
           for r in polyline_distance_join(
               docs_geo, lines_df, H.LINE_RADIUS).collect()}
    pdf = docs_geo.toPandas()
    px, py = pdf.x.to_numpy(), pdf.y.to_numpy()
    exp = {}
    for lid, vx, vy in H.POLYLINES:
        d = np.min([_np_seg_dist(px, py, vx[i], vy[i], vx[i + 1], vy[i + 1])
                    for i in range(len(vx) - 1)], axis=0)
        for j in np.where(d <= H.LINE_RADIUS)[0]:
            exp[(lid, int(pdf.doc_id.iloc[j]))] = d[j]
    assert set(got) == set(exp)
    assert 0 < len(got) < len(pdf) * len(H.POLYLINES)
    for k in got:
        assert got[k] == exp[k], k  # bit-exact, not approx


def test_polyline_join_degenerate_segment(spark, docs_geo):
    """A zero-length segment must behave as a point (try_divide guard),
    not crash under ANSI."""
    ln = spark.createDataFrame(
        pd.DataFrame({"line_id": [9], "vx": [[50.0, 50.0]],
                      "vy": [[50.0, 50.0]]}),
        "line_id long, vx array<double>, vy array<double>")
    got = {int(r.doc_id): r.dist
           for r in polyline_distance_join(docs_geo, ln, 10.0).collect()}
    pdf = docs_geo.toPandas()
    d = np.sqrt((pdf.x - 50.0) ** 2 + (pdf.y - 50.0) ** 2)
    exp = {int(pdf.doc_id.iloc[j]): float(d.iloc[j])
           for j in np.where(d <= 10.0)[0]}
    assert set(got) == set(exp)


def test_polyline_length(spark, lines_df):
    """Sum of segment lengths. A 0-, 1- or 2-vertex line sums over its
    0, 0 or 1 segments (no INVALID_ARRAY_INDEX under ANSI); a null vertex
    array keeps a null length."""
    short = [(10, [], []), (11, [40.0], [40.0]),
             (12, [40.0, 43.0], [50.0, 54.0])]
    more = spark.createDataFrame(
        pd.DataFrame({"line_id": [10, 11, 12, 13],
                      "vx": [l[1] for l in short] + [None],
                      "vy": [l[2] for l in short] + [None]}),
        "line_id long, vx array<double>, vy array<double>")
    got = {int(r.line_id): r.length
           for r in polyline_length(lines_df.unionByName(more)).collect()}
    for lid, vx, vy in list(H.POLYLINES) + short:
        exp = sum(np.sqrt((vx[i + 1] - vx[i]) ** 2 + (vy[i + 1] - vy[i]) ** 2)
                  for i in range(len(vx) - 1))
        assert got[lid] == pytest.approx(exp, rel=1e-12)
    assert (got[10], got[11], got[12], got[13]) == (0.0, 0.0, 5.0, None)


def test_nearest_polyline_matches_numpy(spark, docs_geo, lines_df):
    from mbrngq_spark.operators.lines import nearest_polyline
    R = 8.0
    got = {(int(r.doc_id)): (int(r.line_id), r.dist)
           for r in nearest_polyline(docs_geo, lines_df, R).collect()}
    pdf = docs_geo.toPandas()
    px, py = pdf.x.to_numpy(), pdf.y.to_numpy()
    dmat = {}
    for lid, vx, vy in H.POLYLINES:
        dmat[lid] = np.min(
            [_np_seg_dist(px, py, vx[i], vy[i], vx[i + 1], vy[i + 1])
             for i in range(len(vx) - 1)], axis=0)
    exp = {}
    for j in range(len(pdf)):
        best = min(((dmat[lid][j], lid) for lid in dmat), key=lambda t: t)
        if best[0] <= R:
            exp[int(pdf.doc_id.iloc[j])] = (best[1], best[0])
    assert got == exp
    assert 0 < len(got) < len(pdf)


def test_segment_crossing_join_exact(spark, docs_geo, lines_df):
    """Route-crossing join vs quadratic NumPy: same (line, doc, seg)
    keys AND bit-exact crossing coordinates (one division, same op
    order)."""
    from mbrngq_spark.functions import derive
    from mbrngq_spark.operators.lines import segment_crossing_join

    xh = derive.x_col(F.col("doc_id") + 7777)
    yh = derive.y_col(F.col("doc_id") + 7777)
    tracks = docs_geo.select(
        "doc_id", F.col("x").alias("ax"), F.col("y").alias("ay"),
        (F.col("x") + (xh - 50.0) / 50.0 * 6.0).alias("bx"),
        (F.col("y") + (yh - 50.0) / 50.0 * 6.0).alias("by"))
    got = {(int(r.line_id), int(r.doc_id), int(r.seg_idx)): (r.cx, r.cy)
           for r in segment_crossing_join(tracks, lines_df).collect()}

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    tp = tracks.toPandas()
    exp = {}
    for lid, vx, vy in H.POLYLINES:
        for si in range(len(vx) - 1):
            lax, lay, lbx, lby = vx[si], vy[si], vx[si + 1], vy[si + 1]
            for r in tp.itertuples():
                o1 = orient(r.ax, r.ay, r.bx, r.by, lax, lay)
                o2 = orient(r.ax, r.ay, r.bx, r.by, lbx, lby)
                o3 = orient(lax, lay, lbx, lby, r.ax, r.ay)
                o4 = orient(lax, lay, lbx, lby, r.bx, r.by)
                if o1 * o2 < 0 and o3 * o4 < 0:
                    t = o3 / (o3 - o4)
                    exp[(lid, int(r.doc_id), si)] = (
                        r.ax + t * (r.bx - r.ax), r.ay + t * (r.by - r.ay))
    assert got == exp  # keys AND float values bit-exact
    assert len(got) > 10


def test_points_along_matches_python_bit_exact(spark, lines_df):
    """Linear referencing: a pure-Python replay (Decimal HALF_UP length
    quantization, integer ceil-division k-ranges, one int→double t)
    reproduces every milepost bit-exactly, and the k sequence per line
    is contiguous from 0."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from mbrngq_spark.operators.lines import points_along

    step, quant = H.REF_STEP, 1e9
    stepq = int(round(step * quant))
    got = {(int(r.line_id), int(r.k)): (int(r.seg_idx), float(r.px),
                                        float(r.py))
           for r in points_along(lines_df, step).collect()}

    exp = {}
    for lid, vx, vy in H.POLYLINES:
        cumq = 0
        for si in range(len(vx) - 1):
            ax, ay, bx, by = vx[si], vy[si], vx[si + 1], vy[si + 1]
            ln = math.sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
            lenq = int(Decimal(repr(ln * quant)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP))
            k0 = (cumq + stepq - 1) // stepq
            k1 = (cumq + lenq + stepq - 1) // stepq - 1
            for k in range(k0, k1 + 1):
                t = float(k * stepq - cumq) / float(lenq)
                exp[(lid, k)] = (si, ax + t * (bx - ax), ay + t * (by - ay))
            cumq += lenq
    assert got == exp  # positions bit-exact
    for lid, vx, vy in H.POLYLINES:
        ks = sorted(k for l, k in got if l == lid)
        assert ks == list(range(len(ks)))  # contiguous mileposts from 0
        assert got[(lid, 0)][1:] == (vx[0], vy[0])  # k=0 is the start


def test_points_along_spacing_invariant(spark, lines_df):
    """Arc distance between consecutive mileposts equals step to within
    the 1e-9 length-quantization grain (accumulated over the segments
    between them)."""
    import numpy as np

    from mbrngq_spark.operators.lines import points_along

    rows = points_along(lines_df, H.REF_STEP).collect()
    by_line = {}
    for r in rows:
        by_line.setdefault(int(r.line_id), []).append(
            (int(r.k), int(r.seg_idx), float(r.px), float(r.py)))
    for lid, vx, vy in H.POLYLINES:
        pts = sorted(by_line[lid])
        for (k0, s0, x0, y0), (k1, s1, x1, y1) in zip(pts, pts[1:]):
            # arc length from point k0 to k1 via intermediate vertices
            path = [(x0, y0)] + [(vx[s], vy[s])
                                 for s in range(s0 + 1, s1 + 1)] + [(x1, y1)]
            arc = sum(np.hypot(bx - ax, by - ay)
                      for (ax, ay), (bx, by) in zip(path, path[1:]))
            assert abs(arc - H.REF_STEP) < 1e-6, (lid, k0)


def test_simplify_polylines_matches_python_dp(spark):
    """Bounded-round Douglas-Peucker == a pure-Python recursive DP with
    the same int64 quantization and tiebreaks, on derived 8-vertex
    tracks (full DP at this depth); endpoints always kept."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    from mbrngq_spark.functions import derive
    from mbrngq_spark.operators.lines import simplify_polylines

    V, eps, rounds, quant = 8, 6.0, 6, 1e9
    epsq = int(round(eps * quant))
    sv = F.sequence(F.lit(0), F.lit(V - 1))
    plines = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
              .filter(F.col("doc_id") < 120)
              .select(F.col("doc_id").alias("line_id"))
              .select("line_id",
                      F.transform(sv, lambda i: derive.x_col(
                          F.col("line_id") * 31 + i * 7 + 1)).alias("vx"),
                      F.transform(sv, lambda i: derive.y_col(
                          F.col("line_id") * 31 + i * 7 + 1)).alias("vy")))
    got = {}
    for r in simplify_polylines(plines, eps, rounds).collect():
        got.setdefault(int(r.line_id), set()).add(
            (int(r.idx), float(r.vx), float(r.vy)))

    def q9(v):
        return int(Decimal(repr(v * quant)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))

    def segd(px, py, ax, ay, bx, by):
        dx, dy = bx - ax, by - ay
        len2 = dx * dx + dy * dy
        t = min(max(((px - ax) * dx + (py - ay) * dy) / len2, 0.0), 1.0)
        qx, qy = ax + t * dx, ay + t * dy
        return np.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))

    exp = {}
    for row in plines.collect():
        vx, vy = list(row.vx), list(row.vy)
        kept = {0, V - 1}

        def rec(i, j, depth):
            if depth >= rounds or j - i < 2:
                return
            best = max(range(i + 1, j),
                       key=lambda m: (q9(segd(vx[m], vy[m], vx[i], vy[i],
                                              vx[j], vy[j])), -m))
            dq = q9(segd(vx[best], vy[best], vx[i], vy[i], vx[j], vy[j]))
            if dq > epsq:
                kept.add(best)
                rec(i, best, depth + 1)
                rec(best, j, depth + 1)

        rec(0, V - 1, 0)
        exp[int(row.line_id)] = {(k, vx[k], vy[k]) for k in kept}
    assert got == exp
    ns = [len(v) for v in got.values()]
    assert min(ns) >= 2 and max(ns) > 2  # some lines actually simplify


def test_simplify_keeps_single_vertex_lines(spark):
    """Review regression: 1-vertex (and 2-vertex) polylines survive
    simplification with all their endpoints."""
    import pandas as pd
    from mbrngq_spark.operators.lines import simplify_polylines

    df = spark.createDataFrame(
        pd.DataFrame({"line_id": [1, 2],
                      "vx": [[5.0], [0.0, 9.0]],
                      "vy": [[5.0], [0.0, 9.0]]}),
        "line_id long, vx array<double>, vy array<double>")
    got = {(int(r.line_id), int(r.idx)) for r in
           simplify_polylines(df, 1.0, 3).collect()}
    assert got == {(1, 0), (2, 0), (2, 1)}


def test_short_polylines_have_no_segments(spark, docs_geo):
    """0- and 1-vertex lines have no segments, so every segment operator
    skips them instead of raising INVALID_ARRAY_INDEX under ANSI; the
    2-vertex line beside them keeps its rows."""
    from mbrngq_spark.operators.lines import points_along, polyline_segments

    df = spark.createDataFrame(
        pd.DataFrame({"line_id": [0, 1, 2],
                      "vx": [[], [40.0], [40.0, 60.0]],
                      "vy": [[], [40.0], [50.0, 50.0]]}),
        "line_id long, vx array<double>, vy array<double>")
    segs = polyline_segments(df).collect()
    assert [(r.line_id, r.seg_idx, r.ax, r.ay, r.bx, r.by) for r in segs] \
        == [(2, 0, 40.0, 50.0, 60.0, 50.0)]
    got = {(int(r.line_id), int(r.doc_id)): r.dist
           for r in polyline_distance_join(docs_geo, df, 5.0).collect()}
    two = df.filter(F.col("line_id") == 2)
    exp = {(int(r.line_id), int(r.doc_id)): r.dist
           for r in polyline_distance_join(docs_geo, two, 5.0).collect()}
    assert got == exp and len(exp) > 0
    assert {int(r.line_id) for r in points_along(df, 5.0).collect()} == {2}
