"""Point-in-polygon (general concave polygons vs NumPy PNPOLY oracle) and
raster-tile ↔ vector assignment."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark import grid
from mbrngq_spark.functions import derive
from mbrngq_spark.operators.pip import point_in_polygon_join, polygons_df
from mbrngq_spark.operators.tiles import assign_tiles, tile_vector_assignment
from mbrngq_spark.oracle import point_in_polygon as np_pip
from tests.conftest import SF_DIR

# a concave "arrow" and a star-ish concave pentagon — exercises the even-odd
# rule beyond what convex half-plane tests cover
POLYS = pd.DataFrame({
    "poly_id": [0, 1],
    "vx": [[10.0, 50.0, 50.0, 30.0, 50.0, 50.0, 10.0],
           [60.0, 95.0, 70.0, 90.0, 65.0]],
    "vy": [[40.0, 40.0, 55.0, 30.0, 5.0, 20.0, 20.0],
           [60.0, 65.0, 75.0, 95.0, 90.0]],
})


@pytest.fixture(scope="module")
def docs_geo(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return derive.with_geometry(docs).select("doc_id", "x", "y", "category")


def test_pip_concave_matches_numpy_oracle(spark, docs_geo):
    got = point_in_polygon_join(spark, docs_geo, POLYS).toPandas()
    pdf = docs_geo.toPandas()
    for _, p in POLYS.iterrows():
        exp_mask = np_pip(pdf.x.to_numpy(), pdf.y.to_numpy(),
                          np.array(p.vx), np.array(p.vy))
        exp = set(pdf.doc_id[exp_mask])
        sub = set(got[got.poly_id == p.poly_id]["doc_id"])
        assert sub == exp, f"poly {p.poly_id}: {len(sub)} vs {len(exp)}"


def test_pip_count_sanity(spark, docs_geo):
    # the arrow polygon is non-trivial: some docs inside, most outside
    got = point_in_polygon_join(spark, docs_geo, POLYS).toPandas()
    n = docs_geo.count()
    for pid in (0, 1):
        k = (got.poly_id == pid).sum()
        assert 0 < k < n


def _pairs(df):
    return set(map(tuple, df[["poly_id", "doc_id"]].to_numpy()))


def test_pip_distributed_equals_driver(spark, docs_geo):
    """Pandas polygons (cover broadcast) ≡ a polygon DataFrame (AQE picks
    the cover join) on the concave fixtures — poly 0's first edge is
    HORIZONTAL (vy 40→40), so this also proves the try_divide guard
    under ANSI."""
    exp = point_in_polygon_join(spark, docs_geo, POLYS).toPandas()
    got = point_in_polygon_join(spark, docs_geo,
                                polygons_df(spark, POLYS)).toPandas()
    assert _pairs(got) == _pairs(exp)
    assert len(exp) > 0


def test_pip_distributed_axis_aligned_rectangle(spark, docs_geo):
    """Every edge horizontal or vertical — the worst case for the PNPOLY
    division; result must equal the plain closed/open rect membership the
    even-odd rule implies (left/bottom edges in, right/top out for a CCW
    rect traversed with strict < comparisons)."""
    x0, x1, y0, y1 = 20.0, 60.0, 30.0, 70.0
    polys_df = polygons_df(spark, pd.DataFrame(
        {"poly_id": [7], "vx": [[x0, x1, x1, x0]], "vy": [[y0, y0, y1, y1]]}))
    got = point_in_polygon_join(spark, docs_geo, polys_df).toPandas()
    pdf = docs_geo.toPandas()
    exp_mask = np_pip(pdf.x.to_numpy(), pdf.y.to_numpy(),
                      np.array([x0, x1, x1, x0]), np.array([y0, y0, y1, y1]))
    assert set(got["doc_id"]) == set(pdf.doc_id[exp_mask])
    assert len(got) > 0


def _rounding_split_points(n_per_edge: int, seed: int = 11):
    """(poly_id, x, y) points on the harness triangle edges where the two
    roundings of the PNPOLY crossing — (xj-xi)·(py-yi)/(yj-yi) + xi and
    (xj-xi)·((py-yi)/(yj-yi)) + xi — differ, with x at the smaller one,
    so the even-odd decision depends on which order an engine uses."""
    from mbrngq_spark import harness as H

    rng = np.random.default_rng(seed)
    out = []
    for pid, *v in H.TRIANGLES:
        vx, vy = np.array(v[0::2]), np.array(v[1::2])
        for i in range(3):
            j = i - 1
            got = 0
            while got < n_per_edge:
                py = rng.uniform(min(vy[i], vy[j]), max(vy[i], vy[j]))
                mul = (vx[j] - vx[i]) * (py - vy[i]) / (vy[j] - vy[i]) + vx[i]
                div = (vx[j] - vx[i]) * ((py - vy[i]) / (vy[j] - vy[i])) \
                    + vx[i]
                if mul != div and py != vy[i] and py != vy[j]:
                    out.append((pid, min(mul, div), py))
                    got += 1
    return out


def test_pip_and_cover_follow_oracle_association_order(spark):
    """Points between the two roundings of the crossing x: pandas-form
    PIP, DataFrame-form PIP and polygon_cover all decide them exactly as
    oracle.point_in_polygon (multiply first, then divide) does."""
    from mbrngq_spark import harness as H
    from mbrngq_spark.config import EngineConfig
    from mbrngq_spark.operators.tiles import polygon_cover

    tris = pd.DataFrame({"poly_id": [t[0] for t in H.TRIANGLES],
                         "vx": [[t[1], t[3], t[5]] for t in H.TRIANGLES],
                         "vy": [[t[2], t[4], t[6]] for t in H.TRIANGLES]})
    pts = _rounding_split_points(4)
    xs, ys = np.array([p[1] for p in pts]), np.array([p[2] for p in pts])
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(pts)), "x": xs, "y": ys}))
    exp = {(t.poly_id, int(k)) for t in tris.itertuples()
           for k in np.flatnonzero(np_pip(xs, ys, np.array(t.vx),
                                          np.array(t.vy)))}
    own = {(pid, k) for k, (pid, _, _) in enumerate(pts)}
    assert 0 < len(exp & own) < len(own)   # both decisions occur
    for polys in (tris, polygons_df(spark, tris)):
        got = point_in_polygon_join(spark, docs, polys).toPandas()
        assert _pairs(got) == exp

    # polygon_cover decides tile CENTERS: a one-tile grid centred
    # exactly on the point (h is a power of two, so every step is exact)
    h, covers = 2.0 ** -40, None
    sub = pts[::3]
    for k, (pid, x, y) in enumerate(sub):
        cfg = EngineConfig(min_x=x - h, max_x=x + h, min_y=y - h, max_y=y + h)
        c = polygon_cover(spark, tris.iloc[[pid]], res=0, cfg=cfg) \
            .select(F.lit(k).alias("k"))
        covers = c if covers is None else covers.unionByName(c)
    got = {r.k for r in covers.collect()}
    assert got == {k for k, (pid, _, _) in enumerate(sub)
                   if (pid, 3 * k) in exp}
    assert 0 < len(got) < len(sub)


def test_pip_empty_polygons_returns_no_rows(spark, docs_geo):
    assert point_in_polygon_join(spark, docs_geo, POLYS.iloc[:0]).count() == 0


def test_polygon_cover_empty_polygons_returns_no_rows(spark):
    from mbrngq_spark.operators.tiles import polygon_cover

    assert polygon_cover(spark, POLYS.iloc[:0]).count() == 0


def test_tile_cover_empty_rects_returns_no_rows(spark):
    from mbrngq_spark import harness as H
    from mbrngq_spark.operators.tiles import tile_cover

    assert tile_cover(spark, H.rects_pdf().iloc[:0]).count() == 0


def test_pip_and_polygon_cover_plans_have_no_python(spark, docs_geo):
    from mbrngq_spark.operators.tiles import polygon_cover

    for df in (point_in_polygon_join(spark, docs_geo, POLYS),
               polygon_cover(spark, POLYS)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


def test_tile_vector_assignment(spark, docs_geo):
    got = tile_vector_assignment(spark, docs_geo, POLYS, res=4).toPandas()
    # ground truth: PIP oracle + row-major tile encode
    pdf = docs_geo.toPandas()
    tiles_all = grid.np_quantize(pdf.y.to_numpy(), 0.0, 100.0, 4) * 16 + \
        grid.np_quantize(pdf.x.to_numpy(), 0.0, 100.0, 4)
    for _, p in POLYS.iterrows():
        mask = np_pip(pdf.x.to_numpy(), pdf.y.to_numpy(),
                      np.array(p.vx), np.array(p.vy))
        exp = pd.Series(tiles_all[mask]).value_counts()
        sub = got[got.poly_id == p.poly_id].set_index("tile_id")["n_docs"]
        assert sub.sort_index().to_dict() == exp.sort_index().to_dict()


def test_tile_assignment_deterministic_total(spark, docs_geo):
    out = assign_tiles(docs_geo, res=6)
    assert out.count() == docs_geo.count()
    # every tile id within range
    mx = out.agg(F.max("tile_id")).collect()[0][0]
    assert 0 <= mx < 4096


def test_tile_rollup_res_zero_is_one_tile(spark, docs_geo):
    """res=0 is a real resolution (one tile for the whole space), not
    "use the configured default"."""
    from mbrngq_spark.operators.tiles import tile_rollup

    rows = tile_rollup(docs_geo, res=0).collect()
    assert [r.tile_id for r in rows] == [0]
    assert rows[0].n_docs == docs_geo.count()


def test_tile_cover_matches_halfopen_bruteforce(spark):
    """tile_cover's quantized corner-bin ranges must equal the geometric
    truth: tile [x0, x0+w) × [y0, y0+w) overlaps the closed rect."""
    from mbrngq_spark import harness as H
    from mbrngq_spark.config import DEFAULT as cfg
    from mbrngq_spark.operators.tiles import tile_cover

    got = tile_cover(spark, H.rects_pdf()).toPandas()
    n = 1 << cfg.tile_res
    wx, wy = cfg.width / n, cfg.height / n
    for _, r in H.rects_pdf().iterrows():
        exp = set()
        for iy in range(n):
            y0 = cfg.min_y + iy * wy
            if not (y0 <= r.ymax and y0 + wy > r.ymin):
                continue
            for ix in range(n):
                x0 = cfg.min_x + ix * wx
                if x0 <= r.xmax and x0 + wx > r.xmin:
                    exp.add(iy * n + ix)
        sub = set(got[got.rect_id == r.rect_id]["tile_id"])
        assert sub == exp, f"rect {r.rect_id}"


def test_tile_cover_contains_member_doc_tiles(spark):
    """Consistency across the raster↔vector pair: every doc inside a rect
    is assigned (assign_tiles) a tile that tile_cover lists for the rect."""
    from mbrngq_spark import harness as H
    from mbrngq_spark.operators.tiles import tile_cover

    docs_geo = H.load_docs_geo(spark, SF_DIR)
    assigned = assign_tiles(docs_geo).toPandas()
    cover = tile_cover(spark, H.rects_pdf()).toPandas()
    for _, r in H.rects_pdf().iterrows():
        inside = assigned[(assigned.x >= r.xmin) & (assigned.x <= r.xmax)
                          & (assigned.y >= r.ymin) & (assigned.y <= r.ymax)]
        covered = set(cover[cover.rect_id == r.rect_id]["tile_id"])
        assert set(inside["tile_id"]) <= covered


def test_tile_cover_out_of_domain_rect_emits_zero_rows(spark):
    """A rect fully outside the configured domain must contribute NO tiles
    (the quantize clamp would otherwise pin it to boundary tiles)."""
    from mbrngq_spark.config import DEFAULT as cfg
    from mbrngq_spark.operators.tiles import tile_cover

    far = cfg.min_x + cfg.width
    rects = pd.DataFrame({
        "rect_id": [0, 1, 2],
        "xmin": [far + 10.0, cfg.min_x - 50.0, cfg.min_x + 1.0],
        "xmax": [far + 20.0, cfg.min_x - 40.0, cfg.min_x + 2.0],
        "ymin": [cfg.min_y + 1.0, cfg.min_y - 30.0, cfg.min_y + 1.0],
        "ymax": [cfg.min_y + 2.0, cfg.min_y - 20.0, cfg.min_y + 2.0],
    })
    got = tile_cover(spark, rects).toPandas()
    assert set(got["rect_id"]) == {2}          # only the in-domain rect
    # a rect STRADDLING the boundary still clamps to its in-domain part
    straddle = pd.DataFrame({
        "rect_id": [9], "xmin": [cfg.min_x - 5.0], "xmax": [cfg.min_x + 1.0],
        "ymin": [cfg.min_y + 1.0], "ymax": [cfg.min_y + 2.0]})
    assert len(tile_cover(spark, straddle).toPandas()) > 0


def test_tile_cover_inverted_rect_covers_nothing(spark):
    """A rect with xmin > xmax (or ymin > ymax) covers no tile, as in the
    oracle's generate_series(ix0, ix1) — Spark's sequence(ix0, ix1)
    would count down and emit tiles."""
    from mbrngq_spark.operators.tiles import tile_cover

    rects = pd.DataFrame({
        "rect_id": [0, 1, 2],
        "xmin": [60.0, 10.0, 10.0], "ymin": [10.0, 60.0, 10.0],
        "xmax": [40.0, 30.0, 30.0], "ymax": [30.0, 40.0, 30.0],
    })
    got = tile_cover(spark, rects).toPandas()
    assert set(got["rect_id"]) == {2}


def test_polygon_cover_matches_numpy_center_oracle(spark):
    """polygon_cover (concave polygons) == brute-force: every grid tile
    whose center the NumPy PNPOLY oracle puts inside."""
    from mbrngq_spark.config import DEFAULT as cfg
    from mbrngq_spark.operators.tiles import polygon_cover

    res = cfg.tile_res
    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    got = {}
    for r in polygon_cover(spark, POLYS, res).collect():
        got.setdefault(r.poly_id, set()).add((r.ix, r.iy))
    for _, p in POLYS.iterrows():
        vx = np.asarray(p.vx); vy = np.asarray(p.vy)
        exp = set()
        for iy in range(n):
            for ix in range(n):
                cx = cfg.min_x + (ix + 0.5) * wx
                cy = cfg.min_y + (iy + 0.5) * wy
                if np_pip(np.array([cx]), np.array([cy]), vx, vy)[0]:
                    exp.add((ix, iy))
        assert got.get(p.poly_id, set()) == exp, p.poly_id


def test_compact_cover_roundtrip_and_reduction(spark):
    """compact_cover over the concave polygon rasterization: mixed-res
    output re-expands to EXACTLY the input leaf set (partition — no
    overlap, no loss) and actually shrinks the row count (interior
    2x2 blocks exist at res 6 for these polygons)."""
    from mbrngq_spark.operators.tiles import (compact_cover, expand_cover,
                                              polygon_cover)

    res = 6
    cover = (polygon_cover(spark, POLYS, res=res)
             .select("poly_id",
                     grid.cell_from_indices(
                         F.col("ix"), F.col("iy")).alias("cell")))
    n_in = cover.count()
    comp = compact_cover(cover, res=res, key_cols=["poly_id"])
    comp.cache()
    n_comp = comp.count()
    assert 0 < n_comp < n_in, (n_comp, n_in)
    assert comp.groupBy("res").count().count() > 1  # genuinely mixed-res
    back = expand_cover(comp, res=res, key_cols=["poly_id"])
    got = set(map(tuple, back.toPandas()[["poly_id", "cell"]].to_numpy()))
    exp = set(map(tuple, cover.toPandas()[["poly_id", "cell"]].to_numpy()))
    assert got == exp
    assert len(got) == back.count()  # expansion emits no duplicates
    comp.unpersist()


def test_compact_cover_full_grid_collapses_to_root(spark):
    """A complete res-3 grid (64 leaves) compacts to the single res-0
    root cell; min_res stops the promotion where told."""
    from mbrngq_spark.operators.tiles import compact_cover

    leaves = spark.range(64).select(F.col("id").alias("cell"))
    comp = compact_cover(leaves, res=3).collect()
    assert [(r.cell, r.res) for r in comp] == [(0, 0)]
    comp2 = {(r.cell, r.res)
             for r in compact_cover(leaves, res=3, min_res=2).collect()}
    assert comp2 == {(c, 2) for c in range(16)}


def test_tile_heatmap_matches_numpy_exactly(spark, docs_geo):
    """Biweight KDE splat: per-cell int64 weight sums equal a NumPy
    replay EXACTLY (the quantize-before-sum contract), n_docs too."""
    from decimal import ROUND_HALF_UP, Decimal

    from mbrngq_spark.operators.tiles import tile_heatmap

    h, res, quant = 10.0, 4, 1e9
    cfg = grid.DEFAULT if hasattr(grid, "DEFAULT") else None
    from mbrngq_spark.config import DEFAULT as CFG
    got = {(int(r.ix), int(r.iy)): (int(r.n_docs), int(r.wq))
           for r in tile_heatmap(docs_geo, h, res).collect()}

    pdf = docs_geo.toPandas()
    n = 1 << res
    wx, wy = CFG.width / n, CFG.height / n
    h2 = h * h
    exp = {}
    for iy in range(n):
        for ix in range(n):
            cx = CFG.min_x + (ix + 0.5) * wx
            cy = CFG.min_y + (iy + 0.5) * wy
            d2 = (pdf.x.to_numpy() - cx) * (pdf.x.to_numpy() - cx) \
                + (pdf.y.to_numpy() - cy) * (pdf.y.to_numpy() - cy)
            m = d2 <= h2
            if not m.any():
                continue
            w = (1.0 - d2[m] / h2) * (1.0 - d2[m] / h2)
            # Spark F.round is HALF_UP; Python round is banker's (CLAUDE.md)
            wq = sum(int(Decimal(repr(v * quant)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP)) for v in w)
            exp[(ix, iy)] = (int(m.sum()), wq)
    assert got == exp
    assert len(got) > 20  # h=10 spreads over many 6.25-unit cells


def test_zonal_stats_composition(spark, docs_geo):
    """zonal_stats == pandas composition of polygon_cover and a per-tile
    count, empty covered tiles counted in n_tiles but contributing 0."""
    from mbrngq_spark.operators.tiles import polygon_cover, zonal_stats

    got = {int(r.poly_id): (int(r.sum_docs), int(r.n_tiles), int(r.max_docs))
           for r in zonal_stats(spark, docs_geo, POLYS).collect()}
    cover = polygon_cover(spark, POLYS).toPandas()
    docs = docs_geo.toPandas()
    from mbrngq_spark.config import DEFAULT as CFG
    n = 1 << CFG.tile_res
    tix = np.clip((docs.x / (CFG.width / n)).astype(int), 0, n - 1)
    tiy = np.clip((docs.y / (CFG.height / n)).astype(int), 0, n - 1)
    tid = tiy * n + tix
    from collections import Counter
    cnt = Counter(tid.tolist())
    for pid in cover.poly_id.unique():
        tids = cover[cover.poly_id == pid].tile_id.tolist()
        vals = [cnt.get(t, 0) for t in tids]
        assert got[int(pid)] == (sum(vals), len(vals), max(vals)), pid
    assert set(got) == set(POLYS.poly_id)


def _raster_counts(pdf, res):
    """Quantized (ix, iy) → count, replicating grid.quantize's clamp."""
    from collections import Counter
    from mbrngq_spark.config import DEFAULT as CFG
    n = 1 << res
    ix = np.clip(np.floor((pdf.x.to_numpy() - CFG.min_x)
                          / CFG.width * float(n)).astype(int), 0, n - 1)
    iy = np.clip(np.floor((pdf.y.to_numpy() - CFG.min_y)
                          / CFG.height * float(n)).astype(int), 0, n - 1)
    return Counter(zip(ix.tolist(), iy.tolist()))


def test_focal_stats_matches_numpy_exactly(spark, docs_geo):
    """3×3 focal sum/max/nonempty-count equal a NumPy splat replay
    exactly (all-int arithmetic — no rounding discipline needed)."""
    from mbrngq_spark.operators.tiles import focal_stats

    res = 4
    n = 1 << res
    got = {(int(r.ix), int(r.iy)): (int(r.focal_sum), int(r.focal_max),
                                    int(r.n_nonempty))
           for r in focal_stats(docs_geo, res).collect()}
    cnt = _raster_counts(docs_geo.toPandas(), res)
    exp = {}
    for (ix, iy), c in cnt.items():
        for tx in range(max(ix - 1, 0), min(ix + 1, n - 1) + 1):
            for ty in range(max(iy - 1, 0), min(iy + 1, n - 1) + 1):
                s, m, k = exp.get((tx, ty), (0, 0, 0))
                exp[(tx, ty)] = (s + c, max(m, c), k + 1)
    assert got == exp
    assert len(got) > 16  # the splat reaches beyond the nonempty cells


def test_hotspot_gi_matches_numpy_bit_exact(spark, docs_geo):
    """Getis-Ord Gi* — the /,*,−,sqrt dag over exact ints is
    bit-identical between the JVM and NumPy (assert ==, not approx),
    and W_i is edge-clamped."""
    import math

    from mbrngq_spark.operators.tiles import hotspot_gi

    res = 4
    n = 1 << res
    nn = float(n * n)
    got = {(int(r.ix), int(r.iy)): (int(r.w_i), int(r.s_i), float(r.gi))
           for r in hotspot_gi(docs_geo, res).collect()}
    cnt = _raster_counts(docs_geo.toPandas(), res)
    total = sum(cnt.values())
    sumsq = sum(c * c for c in cnt.values())
    xbar = float(total) / nn
    s_dev = math.sqrt(float(sumsq) / nn - xbar * xbar)
    focal = {}
    for (ix, iy), c in cnt.items():
        for tx in range(max(ix - 1, 0), min(ix + 1, n - 1) + 1):
            for ty in range(max(iy - 1, 0), min(iy + 1, n - 1) + 1):
                focal[(tx, ty)] = focal.get((tx, ty), 0) + c
    exp = {}
    for (tx, ty), s_i in focal.items():
        w = ((3 - (tx == 0) - (tx == n - 1))
             * (3 - (ty == 0) - (ty == n - 1)))
        wd = float(w)
        gi = (float(s_i) - xbar * wd) \
            / (s_dev * math.sqrt((nn * wd - wd * wd) / (nn - 1.0)))
        exp[(tx, ty)] = (w, s_i, gi)
    assert got == exp  # exact float equality — same IEEE dag
    # edge cells exist and carry clamped W_i
    assert any(w < 9 for w, _, _ in got.values())
    assert any(w == 9 for w, _, _ in got.values())


def test_idw_matches_numpy_exactly(spark, docs_geo):
    """Smoothed-IDW surface: quantized numerator/denominator sums equal
    a NumPy replay EXACTLY (quantize-before-sum), and value = numq/denq."""
    from decimal import ROUND_HALF_UP, Decimal

    from mbrngq_spark.config import DEFAULT as CFG
    from mbrngq_spark.operators.tiles import idw_interpolate

    radius, res, quant, s2 = 10.0, 4, 1e9, 0.25
    docs_v = docs_geo.withColumn("v", (F.col("doc_id") % 97).cast("double"))
    rows = idw_interpolate(docs_v, "v", radius, res).collect()
    got = {(int(r.ix), int(r.iy)): (int(r.n_samples), int(r.numq),
                                    int(r.denq)) for r in rows}
    for r in rows:
        assert float(r.value) == float(r.numq) / float(r.denq)

    pdf = docs_v.toPandas()
    n = 1 << res
    wx, wy = CFG.width / n, CFG.height / n
    r2 = radius * radius

    def q(v):
        return int(Decimal(repr(v)).quantize(Decimal(1),
                                             rounding=ROUND_HALF_UP))

    exp = {}
    for iy in range(n):
        for ix in range(n):
            cx = CFG.min_x + (ix + 0.5) * wx
            cy = CFG.min_y + (iy + 0.5) * wy
            d2 = (pdf.x.to_numpy() - cx) * (pdf.x.to_numpy() - cx) \
                + (pdf.y.to_numpy() - cy) * (pdf.y.to_numpy() - cy)
            m = d2 <= r2
            if not m.any():
                continue
            w = 1.0 / (d2[m] + s2)
            v = pdf.v.to_numpy()[m]
            exp[(ix, iy)] = (int(m.sum()),
                             sum(q(x) for x in (w * v * quant).tolist()),
                             sum(q(x) for x in (w * quant).tolist()))
    assert got == exp


def test_moran_i_matches_numpy_bit_exact(spark, docs_geo):
    """Global Moran's I — exact-int scalar inputs recomputed in Python,
    the double dag asserted with == (bit-exact)."""
    from mbrngq_spark.operators.tiles import moran_i

    res = 4
    n = 1 << res
    nn = float(n * n)
    w_tot = (3 * n - 2) ** 2 - n * n
    r = moran_i(docs_geo, res).collect()
    assert len(r) == 1
    r = r[0]
    cnt = _raster_counts(docs_geo.toPandas(), res)
    total = sum(cnt.values())
    sumsq = sum(c * c for c in cnt.values())
    sumxw = sum(c * ((3 - (ix == 0) - (ix == n - 1))
                     * (3 - (iy == 0) - (iy == n - 1)) - 1)
                for (ix, iy), c in cnt.items())
    crossnum = 0
    for (ix, iy), c in cnt.items():
        for tx in range(max(ix - 1, 0), min(ix + 1, n - 1) + 1):
            for ty in range(max(iy - 1, 0), min(iy + 1, n - 1) + 1):
                if (tx, ty) != (ix, iy) and (tx, ty) in cnt:
                    crossnum += c * cnt[(tx, ty)]
    assert (int(r.total), int(r.sumsq), int(r.sumxw), int(r.crossnum),
            int(r.w_tot)) == (total, sumsq, sumxw, crossnum, w_tot)
    xbar = float(total) / nn
    num = float(crossnum) - xbar * (2.0 * float(sumxw)) \
        + xbar * xbar * float(w_tot)
    den = float(sumsq) - float(total) * float(total) / nn
    assert float(r.moran) == (nn / float(w_tot)) * num / den
    # near-uniform fixture counts → |I| small-ish, well inside [-1, 1]
    assert -1.0 < float(r.moran) < 1.0


def test_moran_i_sign_semantics(spark):
    """A tight cluster → strongly positive I; a checkerboard → strongly
    negative I (the statistic's defining behavior)."""
    from mbrngq_spark.operators.tiles import moran_i

    res, n = 3, 8
    cell_w = 100.0 / n
    # cluster: many docs in the 2×2 block of cells at the origin
    cl = [(i, (i % 2 + 0.5) * cell_w, (i // 2 % 2 + 0.5) * cell_w)
          for i in range(200)]
    clustered = spark.createDataFrame(cl, "doc_id long, x double, y double")
    i_cl = float(moran_i(clustered, res).collect()[0].moran)
    assert i_cl > 0.3
    # vertical stripes: under QUEEN (8-neighbor) weights a checkerboard
    # is only mildly negative (its diagonal neighbors are the same
    # color); stripes anti-correlate strongly (I = -7/15 on 8×8)
    st = [(ix * n + iy, (ix + 0.5) * cell_w, (iy + 0.5) * cell_w)
          for ix in range(n) for iy in range(n) if ix % 2 == 0]
    stripes = spark.createDataFrame(st, "doc_id long, x double, y double")
    i_st = float(moran_i(stripes, res).collect()[0].moran)
    assert i_st < -0.3


def test_balanced_cell_partitions_invariants_and_replay(spark, docs_geo):
    """Equi-depth Morton range partitioner: exact NumPy replay, plus the
    two contracts — contiguous Morton ranges (part_id nondecreasing in
    cell order) and every part ≤ ceil(total/P) + max_cell docs."""
    import math

    from mbrngq_spark.index import balanced_cell_partitions

    res, P = 4, 8
    rows = sorted(balanced_cell_partitions(docs_geo, res, P).collect(),
                  key=lambda r: r.cell)
    cnt = _raster_counts(docs_geo.toPandas(), res)
    # exact replay: morton-encode the keys, cumsum in cell order
    from mbrngq_spark import grid as G
    ks = sorted((int(G.np_spread_bits(np.array([ix]))[0]
                     | (G.np_spread_bits(np.array([iy]))[0] << 1)), c)
                for (ix, iy), c in cnt.items())
    total = sum(c for _, c in ks)
    cum = 0
    exp = {}
    for cell, c in ks:
        exp[cell] = ((cum * P) // total, c, cum)
        cum += c
    got = {int(r.cell): (int(r.part_id), int(r.n_docs), int(r.cum_before))
           for r in rows}
    assert got == exp
    # contiguity + balance
    parts = [int(r.part_id) for r in rows]
    assert parts == sorted(parts)
    assert set(parts) == set(range(P))
    sizes = {}
    for r in rows:
        sizes[int(r.part_id)] = sizes.get(int(r.part_id), 0) + int(r.n_docs)
    bound = math.ceil(total / P) + max(c for _, c in ks)
    assert all(s <= bound for s in sizes.values())


def test_contour_segments_match_numpy_marching_squares(spark, docs_geo):
    """Marching-squares isolines equal a NumPy replay bit-exactly —
    at sf0.001 the raster has EMPTY cells, so the missing-corner=0 path
    and low/high cases are exercised; every segment endpoint lies on a
    square edge and strictly between its corners."""
    from mbrngq_spark.config import DEFAULT as CFG
    from mbrngq_spark.operators.tiles import (MS_CASES, contour_segments,
                                              tile_heatmap)

    h, res = 10.0, 4
    n = 1 << res
    hm = tile_heatmap(docs_geo, h, res).toPandas()
    T = int(hm.wq.median())
    rows = contour_segments(docs_geo, h, res, T).collect()
    got = {(int(r.ix), int(r.iy), int(r.seg)):
           (int(r.case_id), float(r.x1), float(r.y1),
            float(r.x2), float(r.y2)) for r in rows}

    grid_v = np.zeros((n, n), dtype=np.int64)
    for r in hm.itertuples():
        grid_v[int(r.ix), int(r.iy)] = int(r.wq)
    wx, wy = CFG.width / n, CFG.height / n
    ca = {0: 0, 1: 1, 2: 3, 3: 0}
    cb = {0: 1, 1: 2, 2: 2, 3: 3}

    def ck(sx, sy, k):
        ix = sx + (1 if k in (1, 2) else 0)
        iy = sy + (1 if k in (2, 3) else 0)
        return (grid_v[ix, iy], CFG.min_x + (ix + 0.5) * wx,
                CFG.min_y + (iy + 0.5) * wy)

    exp = {}
    for sx in range(n - 1):
        for sy in range(n - 1):
            v = [ck(sx, sy, k)[0] for k in range(4)]
            case = ((v[0] > T) + 2 * (v[1] > T) + 4 * (v[2] > T)
                    + 8 * (v[3] > T))
            if case in (0, 15):
                continue
            for s, (ea, eb) in enumerate(MS_CASES[case]):
                pts = []
                for e in (ea, eb):
                    a, b = ca[e], cb[e]
                    va, xa, ya = ck(sx, sy, a)
                    vb, xb, yb = ck(sx, sy, b)
                    t = float(T - va) / float(vb - va)
                    assert 0.0 <= t < 1.0
                    pts.append((xa + t * (xb - xa), ya + t * (yb - ya)))
                exp[(sx, sy, s)] = (case, pts[0][0], pts[0][1],
                                    pts[1][0], pts[1][1])
    assert got == exp
    assert len(got) > 10


def test_contour_sparse_raster_zero_corners(spark, docs_geo):
    """A narrow kernel over few docs leaves EMPTY cells — the
    missing-corner=0 path must agree with the NumPy replay too."""
    from mbrngq_spark.config import DEFAULT as CFG
    from mbrngq_spark.operators.tiles import (MS_CASES, contour_segments,
                                              tile_heatmap)

    sparse = docs_geo.filter(F.col("doc_id") < 60)
    h, res = 3.0, 4
    n = 1 << res
    hm = tile_heatmap(sparse, h, res).toPandas()
    T = int(hm.wq.max() // 2)  # guaranteed crossings on a sparse raster
    grid_v = np.zeros((n, n), dtype=np.int64)
    for r in hm.itertuples():
        grid_v[int(r.ix), int(r.iy)] = int(r.wq)
    assert (grid_v == 0).any()  # genuinely sparse
    rows = contour_segments(sparse, h, res, T).collect()
    got = {(int(r.ix), int(r.iy), int(r.seg)):
           (int(r.case_id), float(r.x1), float(r.y1),
            float(r.x2), float(r.y2)) for r in rows}
    wx, wy = CFG.width / n, CFG.height / n
    ca = {0: 0, 1: 1, 2: 3, 3: 0}
    cb = {0: 1, 1: 2, 2: 2, 3: 3}

    def ck(sx, sy, k):
        ix = sx + (1 if k in (1, 2) else 0)
        iy = sy + (1 if k in (2, 3) else 0)
        return (grid_v[ix, iy], CFG.min_x + (ix + 0.5) * wx,
                CFG.min_y + (iy + 0.5) * wy)

    exp = {}
    for sx in range(n - 1):
        for sy in range(n - 1):
            v = [ck(sx, sy, k)[0] for k in range(4)]
            case = ((v[0] > T) + 2 * (v[1] > T) + 4 * (v[2] > T)
                    + 8 * (v[3] > T))
            if case in (0, 15):
                continue
            for s, (ea, eb) in enumerate(MS_CASES[case]):
                pts = []
                for e in (ea, eb):
                    a, b = ca[e], cb[e]
                    va, xa, ya = ck(sx, sy, a)
                    vb, xb, yb = ck(sx, sy, b)
                    t = float(T - va) / float(vb - va)
                    pts.append((xa + t * (xb - xa), ya + t * (yb - ya)))
                exp[(sx, sy, s)] = (case, pts[0][0], pts[0][1],
                                    pts[1][0], pts[1][1])
    assert got == exp
    assert len(got) > 4


def test_contour_components_union_find_replay(spark, docs_geo):
    """Isoline assembly: component labels equal a union-find over the
    shared-lattice-edge graph; every lattice edge hosts ≤2 segment
    endpoints (the marching-squares degree bound)."""
    from collections import Counter

    from mbrngq_spark.operators.tiles import contour_components, \
        contour_segments

    h, res = 10.0, 4
    n = 1 << res
    hm_t = 5_000_000_000
    segs = contour_segments(docs_geo, h, res, hm_t).collect()

    def key(sx, sy, e):
        col = sx + 1 if e == 1 else sx
        row = sy + 1 if e == 2 else sy
        return (row * n + col) * 2 + (1 if e in (1, 3) else 0)

    nodes = {}
    keys = []
    for r in segs:
        node = (int(r.ix) * n + int(r.iy)) * 4 + int(r.seg)
        ka = key(int(r.ix), int(r.iy), int(r.e_a))
        kb = key(int(r.ix), int(r.iy), int(r.e_b))
        nodes[node] = (ka, kb)
        keys += [ka, kb]
    assert max(Counter(keys).values()) <= 2  # degree bound

    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_key = {}
    for v, (ka, kb) in nodes.items():
        for k in (ka, kb):
            by_key.setdefault(k, []).append(v)
    for vs in by_key.values():
        for v in vs[1:]:
            parent[find(v)] = find(vs[0])
    exp = {v: min(u for u in nodes if find(u) == find(v)) for v in nodes}

    got = {int(r.node): int(r.contour)
           for r in contour_components(docs_geo, h, res, hm_t).collect()}
    assert got == exp
    assert len(set(got.values())) > 1  # several distinct curves
