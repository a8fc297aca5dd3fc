"""Geodetic (lat/lon, great-circle) spatial queries — the spherical tier
next to the planar engine.

The reference engine is planar ([0,100]², Config.cs:16-19) and so is the
core grid; real geospatial corpora are WGS-ish lat/lon where euclidean
degrees are wrong by cos(latitude). This module adds the spherical
kernel and ``GEO``, the great-circle ``knn.Metric``:

- ``haversine_col`` / ``np_haversine``: great-circle meters, Δλ
  normalized to [-180, 180] so the antimeridian wraps correctly.
- ``plan_geo_cells``: the geodetic planner. A counts-only SAT search
  finds, per query, the smallest lat/lon cell box holding ≥ k docs
  (counts are metric-free, so the planar trick carries over verbatim);
  the per-query radius is the EXACT max great-circle distance to that
  box (_rect_haversine_bounds — per-edge analytic extremes of
  arccos(C·cos(φ−φ0)), antipode-inside → πR), tightened per fine cell
  from stats at the planar planner's base res (sorted by exact MINDIST,
  the prefix holding ≥ k docs bounds the kth distance by its largest
  exact MAXDIST); candidate cells are ALL non-empty cells whose exact
  rect MINDIST ≤ radius — evaluated over the full (C ≤ 4^res non-empty
  cells) × Q matrix, so antimeridian neighbors are found without
  box-wrap logic. The radius is also the row filter before the rank
  shuffle, so the tightening is what bounds its volume.

``geodetic_knn``, ``geodetic_range`` and ``geodetic_nearest_group`` are
the planar operators' stages run with GEO: the same bounded stats
collect (knn.cell_counts), candidate builder (knn._join_candidates), kNN
rank (knn._rank), top-L window and NGQ refine (ngq._nearest_group_once);
only their column names and ``members`` string are adapted at the edge.
Each takes its queries as either a pandas frame — planned on the driver,
the plan broadcast — or a Spark DataFrame — planned per Arrow batch in
mapInPandas with the ≤ 4^res-row stats broadcast as slim numpy arrays
(knn.plan_in_executors), joins left to AQE. Both forms give identical
rows (pytest). ``geodetic_pairs`` (ε-self-join via a cell-PAIR candidate
table — the planar 3×3 neighborhood is wrong on a lat/lon grid) and
``geodetic_point_in_polygon`` (wrap-normalized PNPOLY) have their own
candidate structures.

Distances are rounded to 2 dp (centimeter grain) BEFORE ranking: sin/
cos/asin differ by ~1 ulp across libms, which is ~1e-8 m at earth
scale — far below the grain, so ranks are reproducible across engines
(the BM25/ANN rounding discipline); every pruning radius is padded by
the rounding half-grain (_ROUND_PAD_M).
"""

from __future__ import annotations

import itertools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.operators.knn import Metric, _candidates, _rank, \
    cell_counts, covering_box, plan_in_executors, summed_area
from mbrngq_spark.operators.lines import _douglas_peucker, polyline_segments
from mbrngq_spark.operators.ngq import _nearest_group_once
from mbrngq_spark.operators.tiles import _edge_w, _gi_star

R_EARTH = 6_371_000.0


def haversine_col(lat1: Column, lon1: Column, lat2: Column,
                  lon2: Column) -> Column:
    """Great-circle distance in meters (inputs in degrees); Δλ wraps."""
    dphi = F.radians(lat2 - lat1)
    dl = F.radians(F.pmod(lon2 - lon1 + 540.0, F.lit(360.0)) - 180.0)
    a = (F.sin(dphi / 2) ** 2
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
         * F.sin(dl / 2) ** 2)
    return 2 * R_EARTH * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


def np_haversine(lat1, lon1, lat2, lon2):
    """NumPy twin of haversine_col (broadcasting)."""
    dphi = np.radians(lat2 - lat1)
    dl = np.radians(np.mod(lon2 - lon1 + 540.0, 360.0) - 180.0)
    a = (np.sin(dphi / 2) ** 2
         + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2))
         * np.sin(dl / 2) ** 2)
    return 2 * R_EARTH * np.arcsin(np.minimum(1.0, np.sqrt(a)))


_EPS_M = 1e-6          # float-path margin between bounds and rank dists
# Ranking/filtering happens on dist_m ROUNDED to 2 dp, so a doc up to half
# a grain (0.005 m) beyond a pruning radius can still round into the same
# centimeter bucket as the kth doc and win the doc_id tiebreak — every
# pruning bound must admit it or the exhaustive oracle can disagree on a
# knife edge. All planner radii below are padded by this half-grain.
_ROUND_PAD_M = 0.005


def _angle(qlat, qlon, lat, lon):
    """Central angle (radians) — arccos form, clipped."""
    dl = np.radians(np.mod(lon - qlon + 540.0, 360.0) - 180.0)
    c = (np.sin(np.radians(qlat)) * np.sin(np.radians(lat))
         + np.cos(np.radians(qlat)) * np.cos(np.radians(lat)) * np.cos(dl))
    return np.arccos(np.clip(c, -1.0, 1.0))


def _rect_haversine_bounds(qlat, qlon, lat0, lat1, lon0, lon1):
    """EXACT (min, max) great-circle distance from (qlat, qlon) to the
    lat/lon rect, antimeridian-safe, vectorized over rect arrays.

    The central angle to a point on a fixed meridian λ is
    arccos(C·cos(φ − φ0)) with φ0 = atan2(sinφq, cosφq·cosΔλ), so along
    each lon edge the extremes sit at clamp(φ0) / clamp(φ0 ± 180); along
    each lat edge cosθ is monotone in cos Δλ, so the extremes sit at the
    wrap-aware nearest / farthest longitude. The global min adds the
    q-inside-rect → 0 case; the global max adds antipode-inside → πR."""
    span = lon1 - lon0

    def off(lam):
        return np.mod(lam - lon0, 360.0)

    def wdist(a, b):
        d = np.mod(a - b, 360.0)
        return np.minimum(d, 360.0 - d)

    in_lon = off(qlon) <= span
    near_lon = np.where(in_lon, lon0 + off(qlon),
                        np.where(wdist(qlon, lon0) <= wdist(qlon, lon1),
                                 lon0, lon1))
    afar = qlon + 180.0
    far_lon = np.where(off(afar) <= span, lon0 + off(afar),
                       np.where(wdist(afar, lon0) <= wdist(afar, lon1),
                                lon0, lon1))

    def phi0(lam):
        dl = np.radians(np.mod(lam - qlon + 540.0, 360.0) - 180.0)
        return np.degrees(np.arctan2(np.sin(np.radians(qlat)),
                                     np.cos(np.radians(qlat)) * np.cos(dl)))

    mins = [
        _angle(qlat, qlon, lat0, near_lon),
        _angle(qlat, qlon, lat1, near_lon),
        _angle(qlat, qlon, np.clip(phi0(lon0), lat0, lat1), lon0),
        _angle(qlat, qlon, np.clip(phi0(lon1), lat0, lat1), lon1),
    ]
    amin = np.min(mins, axis=0)
    inside = (qlat >= lat0) & (qlat <= lat1) & in_lon
    amin = np.where(inside, 0.0, amin)

    def phi_far(lam):
        p = phi0(lam) - 180.0
        p = np.where(p < -180.0, p + 360.0, p)
        return np.clip(p, lat0, lat1)

    maxs = [_angle(qlat, qlon, la, lo)
            for la in (lat0, lat1) for lo in (lon0, lon1)]
    maxs += [
        _angle(qlat, qlon, lat0, far_lon),
        _angle(qlat, qlon, lat1, far_lon),
        _angle(qlat, qlon, phi_far(lon0), lon0),
        _angle(qlat, qlon, phi_far(lon1), lon1),
    ]
    amax = np.max(maxs, axis=0)
    a_inside = (-qlat >= lat0) & (-qlat <= lat1) & (off(afar) <= span)
    amax = np.where(a_inside, np.pi, amax)
    return (np.maximum(R_EARTH * amin - _EPS_M, 0.0),
            R_EARTH * amax + _EPS_M)


def plan_geo_cells(stats: pd.DataFrame, queries: pd.DataFrame,
                   k: int | None, res: int,
                   max_dist_m: float | None = None, *,
                   stats_res: int | None = None) -> pd.DataFrame:
    """The counts-only planner: (cell, n) stats + (query_id, qlat, qlon)
    queries → (query_id, cell, radius) rows at ``res``, losslessly
    covering every possible great-circle top-k answer within ``radius``
    (the row filter the candidate builder applies to the rounded dist_m).

    Fully vectorized over queries (the planar planner's discipline):
    one lock-step binary search over the SAT for all queries at once,
    one (Q, C) bounds matrix, and one sort of (query, fine cell) pairs —
    no per-query Python loop, so large query batches plan at NumPy speed
    (and the whole planner can run per Arrow batch inside mapInPandas
    for distributed Q).

    ``stats`` may be at a finer ``stats_res`` (default ``res``): the k
    bound is then tightened per fine cell, as the planar planner does
    per cell. The k-covering box bounds the kth distance; every fine
    cell of a res cell within that bound is sorted by exact MINDIST,
    and the largest exact MAXDIST over the prefix holding ≥ k docs
    bounds it again. On clustered or dense corpora the box alone
    reaches far past the kth doc, and every row inside the radius
    crosses the rank shuffle.

    ``max_dist_m`` (the radius-capped kNN contract — the spherical twin
    of the planar furthestDistance cap, RTree.cs:454-474) clamps every
    per-query radius: docs beyond the cap are excluded from the answer
    by the row filter, so cells with MINDIST past cap+half-grain cannot
    contribute — pruning stays lossless. ``k=None`` plans the range
    query of radius ``max_dist_m`` alone (no k-covering box)."""
    n, d = 1 << res, (stats_res or res) - res
    nf = n << d
    dlat, dlon = 180.0 / n, 360.0 / n
    fcells = stats["cell"].to_numpy(np.int64)
    fine = pd.DataFrame({"n": stats["n"].to_numpy(np.int64), "fcell": fcells,
                         "cell": (fcells // nf >> d) * n
                         + (fcells % nf >> d)})
    by_cell = fine.groupby("cell", as_index=False)["n"].sum()
    cells = by_cell["cell"].to_numpy(np.int64)
    counts = by_cell["n"].to_numpy(np.int64)
    iy_all, ix_all = cells // n, cells % n
    lat0_all = -90.0 + iy_all * dlat
    lon0_all = -180.0 + ix_all * dlon
    qids = queries["query_id"].to_numpy()
    qlat = queries["qlat"].to_numpy(np.float64)
    qlon = queries["qlon"].to_numpy(np.float64)
    # (Q, C) exact-MINDIST matrix via broadcasting
    mind, _ = _rect_haversine_bounds(
        qlat[:, None], qlon[:, None],
        lat0_all[None, :], lat0_all[None, :] + dlat,
        lon0_all[None, :], lon0_all[None, :] + dlon)

    cap = np.inf if max_dist_m is None else float(max_dist_m)
    radius = np.full(len(qids), cap)
    reach = radius + _ROUND_PAD_M     # the cap filters one rounded value
    if k is not None and int(counts.sum()) >= k:
        sat = summed_area(iy_all, ix_all, counts, n)
        cy = np.clip(((qlat + 90.0) / dlat).astype(np.int64), 0, n - 1)
        cx = np.clip(((qlon + 180.0) / dlon).astype(np.int64), 0, n - 1)
        bx0, by0, bx1, by1 = covering_box(sat, cx, cy, n, k)
        kth = _rect_haversine_bounds(
            qlat, qlon,
            -90.0 + by0 * dlat, -90.0 + (by1 + 1) * dlat,
            -180.0 + bx0 * dlon, -180.0 + (bx1 + 1) * dlon)[1]
        # every cell of the box is within the box bound, so each query's
        # pairs hold ≥ k docs and the sorted prefix below is a k-bound
        qi, ci = np.nonzero(mind <= kth[:, None])
        pr = pd.DataFrame({"q": qi, "cell": cells[ci]}).merge(fine, on="cell")
        q, fc = pr["q"].to_numpy(), pr["fcell"].to_numpy()
        fy, fx = fc // nf, fc % nf
        lo, hi = _rect_haversine_bounds(
            qlat[q], qlon[q],
            -90.0 + fy * (180.0 / nf), -90.0 + (fy + 1) * (180.0 / nf),
            -180.0 + fx * (360.0 / nf), -180.0 + (fx + 1) * (360.0 / nf))
        pr = pr.assign(lo=lo, hi=hi).sort_values(["q", "lo"], kind="stable")
        before = pr.groupby("q")["n"].cumsum() - pr["n"]
        tight = pr[before < k].groupby("q")["hi"].max()
        kth[tight.index] = np.minimum(kth[tight.index], tight.to_numpy())
        # Double rounding on the k-bound path: the bound covers the kth
        # doc's UNROUNDED distance, so the kth ROUNDED distance can be up
        # to kth+half-grain, and a competitor that rounds into that same
        # centimeter bucket (winning the doc_id tiebreak) sits at true
        # distance up to kth+one full grain — pad by a FULL grain here.
        kth = kth + 2 * _ROUND_PAD_M
        radius = np.minimum(kth, cap)
        reach = np.minimum(kth, reach)
    qi, ci = np.nonzero(mind <= reach[:, None])
    return pd.DataFrame({"query_id": qids[qi], "cell": cells[ci],
                         "radius": radius[qi]})


def _lat_row(lat: Column, n: int) -> Column:
    """Grid row of a latitude on the n×n lat/lon grid; lat 90 clamps
    into row n − 1."""
    return F.least(F.floor((lat + 90.0) / (180.0 / n)).cast("long"),
                   F.lit(n - 1))


def _lon_col(lon: Column, n: int) -> Column:
    """Unclamped grid column of a longitude on the n×n lat/lon grid:
    geo_cell_col clamps it, the celled covers wrap it by pmod."""
    return F.floor((lon + 180.0) / (360.0 / n)).cast("long")


def geo_cell_col(res: int) -> Column:
    """Row-major lat/lon cell id (reads columns ``lat``/``lon``)."""
    n = 1 << res
    return (_lat_row(F.col("lat"), n) * n
            + F.least(_lon_col(F.col("lon"), n), F.lit(n - 1)))


def _dist_m() -> Column:
    """Doc-to-query great-circle meters, rounded to 2 dp before ranking."""
    return F.round(haversine_col(F.col("lat"), F.col("lon"),
                                 F.col("qlat"), F.col("qlon")), 2)


def _query_df(spark: SparkSession, queries: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(queries[["query_id", "qlat", "qlon"]],
                                 "query_id long, qlat double, qlon double")


def _geo_pair_dists(lats: list[np.ndarray], lons: list[np.ndarray]
                    ) -> dict[tuple[int, int], np.ndarray]:
    """The 2-dp-rounded great-circle member-distance matrix of every
    category pair i<j (rows = category i): each pairwise distance is
    rounded BEFORE the refine's max/min/+, so scores are reproducible
    across libms."""
    return {(i, j): np.round(np_haversine(lats[i][:, None], lons[i][:, None],
                                          lats[j][None, :], lons[j][None, :]),
                             2)
            for i, j in itertools.combinations(range(len(lats)), 2)}


def _fine_res(res: int, cfg: EngineConfig) -> int:
    """The geodetic planner's stats res: the planar planner's base res
    when finer than ``res`` (plan_geo_cells tightens its k-bounds per
    fine cell and rolls the counts up to ``res``)."""
    return max(res, cfg.planner_base_res)


def _fine_stats(docs_ll: DataFrame, res: int, cfg: EngineConfig,
                *keys: str) -> pd.DataFrame:
    return cell_counts(docs_ll, geo_cell_col(_fine_res(res, cfg)), *keys)


GEO = Metric(
    doc_xy=("lat", "lon"), query_xy=("qlat", "qlon"),
    cell=lambda res, cfg: geo_cell_col(res),
    stats=lambda docs, res, k, cfg: (_fine_stats(docs, res, cfg), res),
    plan=lambda st, q, k, res, cfg, cap: plan_geo_cells(
        st, q, k, res, cap, stats_res=_fine_res(res, cfg)),
    dist=_dist_m, pairs=_geo_pair_dists,
    # dq_i, d(i, c) and d_c are each rounded by ≤ half a grain, so a
    # score can undercut its members' dq by three half-grains
    slack=3 * _ROUND_PAD_M + _EPS_M)


def _knn_edge(ranked: DataFrame, id_col: str) -> DataFrame:
    """The geodetic kNN's public columns: dist_m, and rnk as long."""
    return ranked.select("query_id", id_col, F.col("dist").alias("dist_m"),
                         F.col("rank").cast("long").alias("rnk"))


def geodetic_knn(spark: SparkSession, docs_ll: DataFrame,
                 queries: pd.DataFrame | DataFrame, k: int = 10,
                 res: int = 6, id_col: str = "doc_id",
                 max_dist_m: float | None = None) -> DataFrame:
    """Top-k nearest docs per query point by great-circle distance.
    ``docs_ll``: (id_col, lat, lon); ``queries``: (query_id, qlat, qlon),
    a pandas frame or a Spark DataFrame (see the module doc).
    Returns (query_id, doc_id, dist_m, rnk) — dist_m rounded to 2 dp,
    ties by doc_id. ``max_dist_m`` is the radius cap (the spherical twin
    of the planar furthestDistance contract): answers beyond it are
    excluded, so some queries return fewer than k rows, and the planner
    prunes cells past the cap. Pruning is lossless: pytest asserts
    equality with the exhaustive scan; the gate's DuckDB oracle IS the
    exhaustive scan."""
    return _knn_edge(_rank(_candidates(spark, docs_ll, queries, k, res,
                                       DEFAULT, max_dist_m, GEO),
                           k, id_col), id_col)


def geodetic_knn_bruteforce(spark: SparkSession, docs_ll: DataFrame,
                            queries: pd.DataFrame, k: int = 10,
                            id_col: str = "doc_id",
                            max_dist_m: float | None = None) -> DataFrame:
    """Exhaustive reference twin (broadcast cross join + rank)."""
    bf = docs_ll.crossJoin(F.broadcast(_query_df(spark, queries))) \
        .withColumn("dist", _dist_m())
    if max_dist_m is not None:
        bf = bf.filter(F.col("dist") <= max_dist_m)
    return _knn_edge(_rank(bf, k, id_col), id_col)


def geodetic_range(spark: SparkSession, docs_ll: DataFrame,
                   queries: pd.DataFrame | DataFrame, radius_m: float,
                   res: int = 6, id_col: str = "doc_id") -> DataFrame:
    """All docs within ``radius_m`` great-circle meters of each query
    point — the spherical range query; ``queries`` is a pandas frame or
    a Spark DataFrame (see the module doc). Candidate cells are the
    non-empty cells whose EXACT rect MINDIST ≤ radius (same lossless
    bound as geodetic_knn); the exact haversine filter finishes. Returns
    (query_id, doc_id, dist_m) with dist_m rounded to 2 dp."""
    return (_candidates(spark, docs_ll, queries, None, res, DEFAULT,
                        radius_m, GEO)
            .select("query_id", id_col, F.col("dist").alias("dist_m")))


def geodetic_nearest_group(spark: SparkSession, docs_ll: DataFrame,
                           queries: pd.DataFrame | DataFrame, m: int,
                           k: int = 5, L: int = 8, res: int = 5,
                           id_col: str = "doc_id") -> DataFrame:
    """NGQ on the SPHERE — the flagship group query with great-circle
    metric (r4 verdict item 5): top-k groups of one member per category
    0..m-1 minimizing max-pairwise-member-distance + min-member-to-query
    distance (GetGroupMinDist semantics, RTree.cs:938-966, with
    np_haversine replacing the euclidean kernel). ``queries`` is a
    pandas frame or a Spark DataFrame (see the module doc).

    One round of the planar NGQ pipeline with GEO
    (ngq._nearest_group_once): per (query, category) the counts-only SAT
    box + EXACT analytic rect bounds retrieve the top-L nearest docs per
    category (lossless — the same argument as geodetic_knn with k=L,
    rounding half-grain included); one query_id exchange feeds the top-L
    window and the Arrow refine, which enumerates the cross-category
    product over rounded np_haversine matrices with theta pruning (its
    triangle bound allows GEO's rounding slack).

    FIXED-L contract (the gate semantics, ≡ planar max_rounds=1): each
    category truncates at exactly L by (dist_m, doc_id) — the DuckDB
    oracle replays the same truncation, so both enumerate the same L^m
    product, and the refine budget L^m never caps. Distances are rounded
    to 2 dp BEFORE ranking and scoring (the module's cross-libm
    discipline); the score is a sum of one max and one min over rounded
    values, deterministic across engines.

    Returns (query_id, group_rank, members, min_dist): members =
    comma-joined member ids in category order (array-valued gate columns
    hash unreliably across engines)."""
    stats = _fine_stats(docs_ll, res, DEFAULT, "category")
    groups = _nearest_group_once(spark, docs_ll, queries, k, L, res,
                                 DEFAULT, stats, L ** m, GEO, m, id_col)
    # concat, not concat_ws (never null): the column keeps its nullable
    # schema
    parts = [p for c in range(m)
             for p in (F.lit(","), F.col(f"c{c}_id").cast("string"))]
    members = F.concat(*parts[1:])
    return groups.select("query_id",
                         F.col("group_rank").cast("long").alias("group_rank"),
                         members.alias("members"),
                         F.round("min_dist", 2).alias("min_dist"))


def plan_geo_pair_cells(probe_cells: np.ndarray, all_cells: np.ndarray,
                        eps_m: float, res: int) -> pd.DataFrame:
    """ε-join cell-pair planner: every ordered (ca, cb) pair of
    (probe × all) non-empty cells whose rect-to-rect great-circle lower
    bound ≤ eps. The bound is the probe-cell-CENTER-to-target-rect exact
    MINDIST padded by the EXACT max distance from the probe center to
    any point of its own cell (the [1] bound applied to the cell
    itself), so mind − pad lower-bounds the true rect-to-rect distance —
    lossless, pole- and wrap-safe. (r4 used the full corner-to-corner
    diagonal as the pad — still lossless but ~2× looser.) geodetic_pairs
    calls it per Arrow batch of probe cells against all cells."""
    n = 1 << res
    dlat, dlon = 180.0 / n, 360.0 / n
    if len(probe_cells) == 0 or len(all_cells) == 0:
        return pd.DataFrame({"ca": [], "cb": []})
    plat0 = -90.0 + (probe_cells // n) * dlat
    plon0 = -180.0 + (probe_cells % n) * dlon
    alat0 = -90.0 + (all_cells // n) * dlat
    alon0 = -180.0 + (all_cells % n) * dlon
    mind, _ = _rect_haversine_bounds(
        plat0[:, None] + dlat / 2, plon0[:, None] + dlon / 2,
        alat0[None, :], alat0[None, :] + dlat,
        alon0[None, :], alon0[None, :] + dlon)
    _, self_max = _rect_haversine_bounds(
        plat0 + dlat / 2, plon0 + dlon / 2,
        plat0, plat0 + dlat, plon0, plon0 + dlon)
    ci, cj = np.nonzero(mind <= eps_m + self_max[:, None] + _ROUND_PAD_M)
    return pd.DataFrame({"ca": probe_cells[ci], "cb": all_cells[cj]})


def geodetic_pairs(spark: SparkSession, docs_ll: DataFrame, eps_m: float,
                   res: int = 5, id_col: str = "doc_id") -> DataFrame:
    """Great-circle ε-self-join: every unordered pair within ``eps_m``
    meters — (a_id, b_id, dist_m), a_id < b_id, each pair once.

    The planar 3×3-neighborhood trick is WRONG on a lat/lon grid (cell
    width in meters shrinks toward the poles, and the antimeridian
    wraps), so the candidate structure is a cell-PAIR table instead:
    every ordered pair of non-empty cells whose exact bound ≤ eps —
    lossless by construction, pole- and wrap-safe. At fine resolutions
    the (C × C) bounds matrix outgrows the driver (res 8 → 65k²
    entries), so plan_geo_pair_cells runs per Arrow batch of PROBE cells
    in mapInPandas, the full cell list (from the bounded stats collect)
    broadcast as slim numpy. Both doc sides then join the pair table by
    cell — AQE picks the strategies — and the exact haversine predicate
    finishes."""
    cell = geo_cell_col(res)
    d = docs_ll.withColumn("cell", cell)
    cells = cell_counts(docs_ll, cell)[["cell"]]
    probe = spark.createDataFrame(cells, "cell long") \
        .repartition(max(2, len(cells) // 4096))
    pairs = plan_in_executors(
        spark, cells, probe,
        lambda st, p: plan_geo_pair_cells(p["cell"].to_numpy(np.int64),
                                          st["cell"].to_numpy(np.int64),
                                          eps_m, res),
        "ca long, cb long")
    a = d.select(F.col(id_col).alias("a_id"), F.col("lat").alias("alat"),
                 F.col("lon").alias("alon"), F.col("cell").alias("ca"))
    b = d.select(F.col(id_col).alias("b_id"), F.col("lat").alias("blat"),
                 F.col("lon").alias("blon"), F.col("cell").alias("cb"))
    dist = F.round(haversine_col(F.col("alat"), F.col("alon"),
                                 F.col("blat"), F.col("blon")), 2)
    return (a.join(pairs, "ca").join(b, "cb")
            .withColumn("dist_m", dist)
            .filter((F.col("dist_m") <= eps_m)
                    & (F.col("a_id") < F.col("b_id")))
            .select("a_id", "b_id", "dist_m"))


# celled-cover resolution of geodetic_point_in_polygon: the cover only
# prunes (the bbox + PNPOLY refine decides), so every res gives the same
# rows; 6 keeps covers small for continent-sized polygons
_PIP_RES = 6


def geodetic_point_in_polygon(docs_ll: DataFrame,
                              polys: pd.DataFrame | DataFrame,
                              id_col: str = "doc_id") -> DataFrame:
    """Point-in-polygon on the lat/lon sphere — the spherical analog of
    pip.point_in_polygon_join.

    Contract: polygon edges are straight lines in (lat, lon') where
    lon' is the longitude WRAP-NORMALIZED to the polygon's own frame —
    ``lon' = pmod(lon − anchor + 540, 360) − 180`` with anchor = the
    polygon's first vertex longitude. That makes antimeridian-crossing
    polygons well-defined (all vertices and test points land in one
    continuous 360° window centered on the polygon) while keeping the
    decision pure PNPOLY arithmetic — deterministic, engine-portable
    (pmod(+positive) ≡ DuckDB fmod — the module's wrap discipline), and
    exactly reproducible by the NumPy twin the pytest sweeps. Polygons
    spanning a pole or ≥ 180° of longitude are out of contract (as rect
    query windows are for the planar engine).

    ``polys``: (poly_id, vlat, vlon) vertex lists — a pandas frame (its
    celled cover is broadcast, so the corpus is never shuffled) or a
    DataFrame of arbitrary size (AQE picks the cover join) — the rule
    pip.point_in_polygon_join follows too. Every per-polygon derivation
    (anchor, wrap normalization, bbox, covering cells — _geo_poly_cover)
    is a Column expression; docs join the cover on their one cell
    (_wrap_cell_col), then the wrap-normalized bbox filter and the
    PNPOLY fold (``_pnpoly_flips``, whose divide-first crossing the
    ``_geo_pip_pred_sql`` oracle pins) decide — no Python anywhere in
    the plan."""
    small = not isinstance(polys, DataFrame)
    if small:
        polys = docs_ll.sparkSession.createDataFrame(
            polys[["poly_id", "vlat", "vlon"]],
            "poly_id long, vlat array<double>, vlon array<double>")
    cover = _geo_poly_cover(polys, _PIP_RES).drop("__iy", "__ux")
    cand = (docs_ll.withColumn("cell", _wrap_cell_col(_PIP_RES))
            .join(F.broadcast(cover) if small else cover, "cell")
            .withColumn("nlon", F.pmod(F.col("lon") - F.col("anchor")
                                       + 540.0, F.lit(360.0)) - 180.0)
            .filter((F.col("lat") >= F.col("lat0"))
                    & (F.col("lat") <= F.col("lat1"))
                    & (F.col("nlon") >= F.col("lon0"))
                    & (F.col("nlon") <= F.col("lon1"))))
    return (cand.filter(F.pmod(_pnpoly_flips(), F.lit(2)) == 1)
            .select("poly_id", id_col))


def _pnpoly_flips() -> Column:
    """PNPOLY even-odd crossing count over the normalized frame, as one
    aggregate fold across edge indices (JVM-side, no UDF): edge i pairs
    vertex i with vertex (i-1+n)%n. Reads row columns ``vlat``/``vlon``
    (vertex arrays, vlon already wrap-normalized) and ``lat``/``nlon``
    (the test point in the same frame)."""
    n_expr = F.size("vlat")

    def edge_flip(i):
        j = F.pmod(i - 1 + n_expr, n_expr)
        yi = F.element_at(F.col("vlat"), (i + 1).cast("int"))
        yj = F.element_at(F.col("vlat"), (j + 1).cast("int"))
        xi = F.element_at(F.col("vlon"), (i + 1).cast("int"))
        xj = F.element_at(F.col("vlon"), (j + 1).cast("int"))
        crosses = (yi > F.col("lat")) != (yj > F.col("lat"))
        # try_divide: horizontal edges (yj == yi) must not raise under
        # ANSI even if Catalyst reorders the And — crosses is false for
        # them, so the NULL xcut never decides a flip (false & NULL →
        # false), and when crosses is true yj != yi by construction.
        xcut = (xj - xi) * F.try_divide(F.col("lat") - yi, yj - yi) + xi
        return F.when(crosses & (F.col("nlon") < xcut), 1).otherwise(0)

    return F.aggregate(F.sequence(F.lit(0), n_expr - 1), F.lit(0),
                       lambda acc, i: acc + edge_flip(i))


def _wrap_cell_col(res: int) -> Column:
    """Doc-side cell id for the celled covers (polygons, polyline
    segments): geo_cell_col's binning with the lon column pmod-wrapped,
    the formula the covers map their unwrapped lon columns through — a
    point at lon exactly ±180 lands in column 0 on BOTH sides, where
    geo_cell_col would clamp it to n−1."""
    n = 1 << res
    return (_lat_row(F.col("lat"), n) * n
            + F.pmod(_lon_col(F.col("lon"), n), F.lit(n)))


def _geo_poly_cover(polygons_df: DataFrame, res: int) -> DataFrame:
    """Shared celled-cover derivation for the distributed spherical
    polygon operators: per polygon row — anchor, wrap-normalized vlon,
    normalized bbox, and one exploded row per covering cell of the
    row-major lat/lon grid at ``res``. Lon columns are enumerated in the
    polygon's UNWRAPPED window (anchor + normalized bbox, contiguous by
    the wrap contract) and mapped into [0, n) by pmod — antimeridian-
    crossing polygons cover both boundary columns with no special case.
    Keeps ``__iy``/``__ux`` (grid row / unwrapped column) for callers
    that need tile coordinates; join-only callers drop them."""
    n = 1 << res
    p = (polygons_df
         .withColumn("anchor", F.element_at(F.col("vlon"), 1))
         .withColumn("vlon", F.transform(
             F.col("vlon"),
             lambda v: F.pmod(v - F.col("anchor") + 540.0,
                              F.lit(360.0)) - 180.0))
         .withColumn("lat0", F.array_min("vlat"))
         .withColumn("lat1", F.array_max("vlat"))
         .withColumn("lon0", F.array_min("vlon"))
         .withColumn("lon1", F.array_max("vlon")))
    return (p
            .withColumn("__iy", F.explode(F.sequence(
                _lat_row(F.col("lat0"), n), _lat_row(F.col("lat1"), n))))
            .withColumn("__ux", F.explode(F.sequence(
                _lon_col(F.col("anchor") + F.col("lon0"), n),
                _lon_col(F.col("anchor") + F.col("lon1"), n))))
            .withColumn("cell",
                        F.col("__iy") * n + F.pmod(F.col("__ux"),
                                                   F.lit(n))))


def geodetic_polygon_cover(polygons_df: DataFrame, res: int = 6
                           ) -> DataFrame:
    """Spherical vector→raster: one row per (polygon, tile) for every
    lat/lon-grid tile whose CENTER is inside the spherical polygon
    (even-odd in the polygon's wrap-normalized frame) — the geodetic
    twin of tiles.polygon_cover (which takes pandas polygons), fully
    distributed over the polygon table. Candidate tiles come from the
    shared celled cover; the refine is the tile-CENTER PNPOLY fold.
    Pure Column end to end — no UDF, no shuffle beyond the explode.

    Returns (poly_id, cell, iy, ix) with ix the wrapped grid column."""
    n = 1 << res
    wlat, wlon = 180.0 / n, 360.0 / n
    cover = _geo_poly_cover(polygons_df, res)
    ix = F.pmod(F.col("__ux"), F.lit(n))
    center_lat = F.lit(-90.0) + (F.col("__iy").cast("double") + 0.5) * wlat
    center_lon = F.lit(-180.0) + (ix.cast("double") + 0.5) * wlon
    c = (cover
         .withColumn("lat", center_lat)
         .withColumn("nlon", F.pmod(center_lon - F.col("anchor") + 540.0,
                                    F.lit(360.0)) - 180.0))
    return (c.filter(F.pmod(_pnpoly_flips(), F.lit(2)) == 1)
            .select("poly_id", "cell", F.col("__iy").alias("iy"),
                    ix.alias("ix")))


def np_geodetic_pip(lat, lon, vlat, vlon):
    """NumPy twin of geodetic_point_in_polygon for one polygon
    (vectorized over points): same anchor normalization, same PNPOLY
    pairing and operand order."""
    anchor = vlon[0]
    nvlon = np.mod(np.asarray(vlon) - anchor + 540.0, 360.0) - 180.0
    nlon = np.mod(np.asarray(lon) - anchor + 540.0, 360.0) - 180.0
    lat = np.asarray(lat)
    inside = np.zeros(len(lat), dtype=bool)
    n = len(vlat)
    for i in range(n):
        j = (i - 1 + n) % n
        yi, yj = vlat[i], vlat[j]
        xi, xj = nvlon[i], nvlon[j]
        crosses = (yi > lat) != (yj > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xcut = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= crosses & (nlon < xcut)
    return inside


# --- spherical polygon area: signed-excess fan, map-only Column math ----------

def _unit_vecs(vlat: Column, vlon: Column) -> tuple[Column, Column, Column]:
    """Per-vertex unit vectors (xs, ys, zs arrays) from degree arrays.
    Wrap-agnostic: sin/cos of the raw longitude are periodic, so the
    antimeridian needs no normalization here (unlike PNPOLY's planar
    fold)."""
    rad = math.pi / 180.0
    xs = F.zip_with(vlat, vlon,
                    lambda la, lo: F.cos(la * rad) * F.cos(lo * rad))
    ys = F.zip_with(vlat, vlon,
                    lambda la, lo: F.cos(la * rad) * F.sin(lo * rad))
    zs = F.transform(vlat, lambda la: F.sin(la * rad))
    return xs, ys, zs


def geodetic_polygon_area(polygons_df: DataFrame) -> DataFrame:
    """(poly_id, area_km2) — area of each great-circle polygon, 4-dp
    rounded. The polygon is fanned from vertex 1 into triangles
    (v1, vi, vi+1); each triangle contributes its SIGNED spherical
    excess via the Eriksson/van-Oosterom form

        E = 2 · atan2(det[a b c], 1 + a·b + b·c + a·c)

    (det = scalar triple product of the unit vectors), so concave fans
    cancel correctly and orientation drops out in the final |Σ E| · R².
    One map-only pass over the polygons table — pure Column math, no
    Python, no shuffle (the plan-audit `geo poly cover` discipline);
    polygons with a vertex antipodal chain (det = denom = 0) are the
    caller's degenerate input, as in the PNPOLY tier.

    Reference parity note: mbRNGQ has no spherical measure (its
    Rectangle.cs geometry is planar) — engine-new geodetic surface, the
    measure companion of geodetic_polygon_cover."""
    xs, ys, zs = _unit_vecs(F.col("vlat"), F.col("vlon"))
    df = polygons_df.withColumn("__xs", xs).withColumn("__ys", ys) \
                    .withColumn("__zs", zs)

    def at(arr: str, i: Column) -> Column:
        return F.element_at(F.col(arr), i)

    def dot(i: Column, j: Column) -> Column:
        return (at("__xs", i) * at("__xs", j)
                + at("__ys", i) * at("__ys", j)
                + at("__zs", i) * at("__zs", j))

    def excess(acc: Column, i: Column) -> Column:
        one, b, c = F.lit(1), i + 1, i + 2
        det = (at("__xs", one) * (at("__ys", b) * at("__zs", c)
                                  - at("__zs", b) * at("__ys", c))
               + at("__ys", one) * (at("__zs", b) * at("__xs", c)
                                    - at("__xs", b) * at("__zs", c))
               + at("__zs", one) * (at("__xs", b) * at("__ys", c)
                                    - at("__ys", b) * at("__xs", c)))
        denom = F.lit(1.0) + dot(one, b) + dot(b, c) + dot(one, c)
        return acc + 2.0 * F.atan2(det, denom)

    n = F.size("__xs")
    esum = F.aggregate(F.sequence(F.lit(1), n - 2), F.lit(0.0), excess)
    r_km = R_EARTH / 1000.0
    area = F.abs(esum) * F.lit(r_km * r_km)
    return df.select("poly_id", F.round(area, 4).alias("area_km2"))


def geodetic_polygon_area_sql(polys: list[tuple[int, list, list]]) -> str:
    """DuckDB twin with the vertices UNROLLED as literals (gate-fixture
    polygons, the `_geo_pip_pred_sql` discipline): identical fan, the
    excess terms added in the SAME left-to-right order as the Column
    fold, one final 4-dp rounding absorbing the ~1-ulp libm spread."""
    r_km = R_EARTH / 1000.0
    selects = []
    for pid, vlat, vlon in polys:
        def sx(i):
            la, lo = vlat[i], vlon[i]
            return (f"(cos(radians({la!r})) * cos(radians({lo!r})))",
                    f"(cos(radians({la!r})) * sin(radians({lo!r})))",
                    f"sin(radians({la!r}))")

        terms = []
        for i in range(1, len(vlat) - 1):
            (ax, ay, az), (bx, by, bz), (cx, cy, cz) = sx(0), sx(i), \
                sx(i + 1)
            det = (f"({ax} * ({by} * {cz} - {bz} * {cy})"
                   f" + {ay} * ({bz} * {cx} - {bx} * {cz})"
                   f" + {az} * ({bx} * {cy} - {by} * {cx}))")
            dn = (f"(1.0 + ({ax}*{bx} + {ay}*{by} + {az}*{bz})"
                  f" + ({bx}*{cx} + {by}*{cy} + {bz}*{cz})"
                  f" + ({ax}*{cx} + {ay}*{cy} + {az}*{cz}))")
            terms.append(f"2.0 * atan2({det}, {dn})")
        esum = "(" + " + ".join(f"({t})" for t in terms) + ")"
        selects.append(
            f"SELECT CAST({pid} AS BIGINT) AS poly_id, "
            f"round(abs({esum}) * {r_km * r_km!r}, 4) AS area_km2")
    return " UNION ALL ".join(selects)


def geodetic_polygon_area_py(vlat: list, vlon: list) -> float:
    """Pure-Python twin (pytest ground truth)."""
    def uv(la, lo):
        la, lo = math.radians(la), math.radians(lo)
        return (math.cos(la) * math.cos(lo),
                math.cos(la) * math.sin(lo), math.sin(la))
    vs = [uv(la, lo) for la, lo in zip(vlat, vlon)]
    esum = 0.0
    for i in range(1, len(vs) - 1):
        a, b, c = vs[0], vs[i], vs[i + 1]
        det = (a[0] * (b[1] * c[2] - b[2] * c[1])
               + a[1] * (b[2] * c[0] - b[0] * c[2])
               + a[2] * (b[0] * c[1] - b[1] * c[0]))
        dn = (1.0 + sum(x * y for x, y in zip(a, b))
              + sum(x * y for x, y in zip(b, c))
              + sum(x * y for x, y in zip(a, c)))
        esum += 2.0 * math.atan2(det, dn)
    r_km = R_EARTH / 1000.0
    return round(abs(esum) * r_km * r_km, 4)


# --- geodetic polyline corridor join -----------------------------------------

def _uv3_cols(lat: Column, lon: Column) -> tuple[Column, Column, Column]:
    """Unit 3-vector of a (degree) lat/lon point as scalar Columns."""
    la, lo = F.radians(lat), F.radians(lon)
    return (F.cos(la) * F.cos(lo), F.cos(la) * F.sin(lo), F.sin(la))


def geodetic_segment_dist_m(plat: Column, plon: Column,
                            alat: Column, alon: Column,
                            blat: Column, blon: Column) -> Column:
    """Great-circle distance (meters) from point P to the MINOR ARC a-b.

    3-D formulation: n = A×B is the arc's great-circle normal; the
    cross-track angle is asin(P·n̂), and the foot of P on the circle is
    within the minor arc iff (P·A)/cos(xt) ≥ A·B and (P·B)/cos(xt) ≥
    A·B (the normalized projection G satisfies G·A = (P·A)/cos(xt)
    because n̂ ⊥ A). Outside the arc, the distance is to the nearer
    endpoint (haversine_col — identical formula shape to every other
    geodetic operator). The within/endpoint branch is CONTINUOUS at its
    boundary (there the cross-track distance equals the endpoint
    distance), so a 1-ulp libm difference between engines moves the
    result by ulps, absorbed by the 2-dp meter rounding discipline.
    Degenerate segments (A ≈ ±B → |n| = 0) fall back to the endpoint
    branch via try_divide → null → coalesce(false)."""
    px, py, pz = _uv3_cols(plat, plon)
    ax, ay, az = _uv3_cols(alat, alon)
    bx, by, bz = _uv3_cols(blat, blon)
    nx = ay * bz - az * by
    ny = az * bx - ax * bz
    nz = ax * by - ay * bx
    nn = F.sqrt(nx * nx + ny * ny + nz * nz)
    sinxt = F.try_divide(px * nx + py * ny + pz * nz, nn)
    cosxt = F.sqrt(F.greatest(F.lit(1.0) - sinxt * sinxt, F.lit(0.0)))
    ab = ax * bx + ay * by + az * bz
    pa = px * ax + py * ay + pz * az
    pb = px * bx + py * by + pz * bz
    within = ((F.try_divide(pa, cosxt) >= ab)
              & (F.try_divide(pb, cosxt) >= ab))
    d_arc = F.lit(R_EARTH) * F.asin(F.least(F.abs(sinxt), F.lit(1.0)))
    d_end = F.least(haversine_col(plat, plon, alat, alon),
                    haversine_col(plat, plon, blat, blon))
    return F.when(F.coalesce(within, F.lit(False)), d_arc).otherwise(d_end)


def geodetic_polyline_join(docs_ll: DataFrame, lines_df: DataFrame,
                           radius_m: float, res: int = 5,
                           id_col: str = "doc_id") -> DataFrame:
    """Spherical corridor join: every doc within ``radius_m`` of each
    polyline — (line_id, doc_id, dist_m), dist_m = 2-dp-rounded min
    over the line's segments; the filter compares the ROUNDED value
    (the geodetic ranking discipline).

    Fully distributed over BOTH tables: polylines explode to segments
    JVM-side; each segment emits the lat/lon-grid cells of its padded
    bbox — lon columns enumerated in the segment's UNWRAPPED anchor
    window then pmod'd (the `_geo_poly_cover` antimeridian discipline;
    lon along a minor arc is monotonic, so the endpoint lons bound it),
    lat rows padded by radius AND by the arc's poleward bulge
    (sin-space sagitta bound (1/cos(θ/2) − 1), divided by cos of the
    padded band's max |lat| — contract: |lat| ≤ 88°, θ ≤ ~20°,
    non-pole-spanning, like the PIP tier). Docs carry their single
    cell; one equi-join, pure-Column exact refine, one
    map-side-combinable min per (line, doc). Every segment within the
    (half-grain-padded) radius of a doc lands in the doc's cell's
    cover, so min-over-candidates == min-over-all-segments for every
    emitted pair."""
    n = 1 << res
    deg = 180.0 / math.pi
    seg = polyline_segments(lines_df, "vlat", "vlon",
                            ("alat", "alon", "blat", "blon"))

    rad_pad = radius_m + _ROUND_PAD_M          # rounded-filter half-grain
    raddeg = rad_pad / R_EARTH * deg
    theta = haversine_col(F.col("alat"), F.col("alon"),
                          F.col("blat"), F.col("blon")) / F.lit(R_EARTH)
    lat_lo = F.least("alat", "blat")
    lat_hi = F.greatest("alat", "blat")
    band = F.least(F.greatest(F.abs(lat_lo), F.abs(lat_hi))
                   + F.lit(raddeg + 1.0), F.lit(89.0))
    bulge = (F.try_divide(F.lit(1.0), F.cos(theta / 2)) - 1.0) \
        / F.cos(F.radians(band)) * F.lit(deg)
    pad = F.lit(raddeg) + bulge
    lat0 = F.greatest(lat_lo - pad, F.lit(-90.0))
    lat1 = F.least(lat_hi + pad, F.lit(90.0))
    nlon_b = F.pmod(F.col("blon") - F.col("alon") + 540.0,
                    F.lit(360.0)) - 180.0
    dlon = F.lit(raddeg) / F.cos(F.radians(
        F.least(F.greatest(F.abs(lat0), F.abs(lat1)), F.lit(89.0))))
    lon0 = F.least(F.lit(0.0), nlon_b) - dlon
    lon1 = F.greatest(F.lit(0.0), nlon_b) + dlon

    cover = (seg
             .withColumn("__iy", F.explode(F.sequence(
                 F.greatest(F.floor((lat0 + 90.0) / (180.0 / n))
                            .cast("long"), F.lit(0)),
                 _lat_row(lat1, n))))
             .withColumn("__ux", F.explode(F.sequence(
                 _lon_col(F.col("alon") + lon0, n),
                 _lon_col(F.col("alon") + lon1, n))))
             .withColumn("cell", F.col("__iy") * n
                         + F.pmod(F.col("__ux"), F.lit(n)))
             .select("line_id", "alat", "alon", "blat", "blon", "cell"))

    docs_c = docs_ll.select(F.col(id_col).alias("doc_id"), "lat", "lon") \
        .withColumn("cell", _wrap_cell_col(res))
    d = geodetic_segment_dist_m(F.col("lat"), F.col("lon"),
                                F.col("alat"), F.col("alon"),
                                F.col("blat"), F.col("blon"))
    return (docs_c.join(F.broadcast(cover), "cell")
            .withColumn("__d", d)
            .groupBy("line_id", "doc_id")
            .agg(F.round(F.min("__d"), 2).alias("dist_m"))
            .filter(F.col("dist_m") <= F.lit(float(radius_m)))
            .select("line_id", F.col("doc_id").alias(id_col), "dist_m"))


def np_geodetic_segment_dist(plat, plon, alat, alon, blat, blon):
    """NumPy twin of geodetic_segment_dist_m (vectorized over points)."""
    def uv(la, lo):
        la, lo = np.radians(la), np.radians(lo)
        return np.stack([np.cos(la) * np.cos(lo),
                         np.cos(la) * np.sin(lo), np.sin(la)])
    p = uv(np.asarray(plat, float), np.asarray(plon, float))
    a = uv(alat, alon)
    b = uv(blat, blon)
    nvec = np.cross(a, b, axis=0) if a.ndim == 1 else np.array(
        [a[1] * b[2] - a[2] * b[1], a[2] * b[0] - a[0] * b[2],
         a[0] * b[1] - a[1] * b[0]])
    nn = np.sqrt((nvec ** 2).sum())
    with np.errstate(divide="ignore", invalid="ignore"):
        sinxt = (p * nvec[:, None]).sum(0) / nn if nn else \
            np.full(p.shape[1], np.nan)
    cosxt = np.sqrt(np.maximum(1.0 - sinxt * sinxt, 0.0))
    ab = float((a * b).sum())
    pa = (p * a[:, None]).sum(0)
    pb = (p * b[:, None]).sum(0)
    with np.errstate(divide="ignore", invalid="ignore"):
        within = (pa / cosxt >= ab) & (pb / cosxt >= ab)
    within = np.where(np.isfinite(sinxt) & np.isfinite(cosxt)
                      & (cosxt > 0), within, False)
    d_arc = R_EARTH * np.arcsin(np.minimum(np.abs(sinxt), 1.0))
    d_end = np.minimum(
        np_haversine(np.asarray(plat, float), np.asarray(plon, float),
                     alat, alon),
        np_haversine(np.asarray(plat, float), np.asarray(plon, float),
                     blat, blon))
    return np.where(within, d_arc, d_end)


def _hav_sql(plat: str, plon: str, qlat: float, qlon: float) -> str:
    """SQL twin of haversine_col(plat, plon, LITERAL q) — same op order
    (pmod == fmod for the positive wrap argument, CLAUDE.md)."""
    return (f"2 * {R_EARTH!r} * asin(least(1.0, sqrt("
            f"pow(sin(radians({qlat!r} - {plat}) / 2), 2)"
            f" + cos(radians({plat})) * cos(radians({qlat!r}))"
            f" * pow(sin(radians(fmod({qlon!r} - {plon} + 540.0, 360.0)"
            f" - 180.0) / 2), 2))))")


def geodetic_segment_dist_sql(px: str, py: str, pz: str,
                              plat: str, plon: str,
                              alat: float, alon: float,
                              blat: float, blon: float) -> str:
    """SQL twin of geodetic_segment_dist_m for one LITERAL segment:
    identical 3-D formulation and branch structure (the a/b unit
    vectors are written as cos/sin expressions so DuckDB's libm
    computes them, matching the engine's runtime evaluation up to the
    ~1-ulp tolerance the 2-dp rounding absorbs). ``px/py/pz`` are the
    caller's precomputed doc unit-vector column names."""
    def uv(la, lo):
        return (f"(cos(radians({la!r})) * cos(radians({lo!r})))",
                f"(cos(radians({la!r})) * sin(radians({lo!r})))",
                f"sin(radians({la!r}))")
    ax, ay, az = uv(alat, alon)
    bx, by, bz = uv(blat, blon)
    nx = f"({ay} * {bz} - {az} * {by})"
    ny = f"({az} * {bx} - {ax} * {bz})"
    nz = f"({ax} * {by} - {ay} * {bx})"
    nn = f"sqrt({nx} * {nx} + {ny} * {ny} + {nz} * {nz})"
    pn = f"({px} * {nx} + {py} * {ny} + {pz} * {nz})"
    sinxt = f"(CASE WHEN {nn} = 0 THEN NULL ELSE {pn} / {nn} END)"
    cosxt = f"sqrt(greatest(1.0 - {sinxt} * {sinxt}, 0.0))"
    ab = f"({ax} * {bx} + {ay} * {by} + {az} * {bz})"
    pa = f"({px} * {ax} + {py} * {ay} + {pz} * {az})"
    pb = f"({px} * {bx} + {py} * {by} + {pz} * {bz})"
    div = "(CASE WHEN {c} = 0 THEN NULL ELSE {v} / {c} END)"
    within = (f"COALESCE({div.format(v=pa, c=cosxt)} >= {ab}"
              f" AND {div.format(v=pb, c=cosxt)} >= {ab}, FALSE)")
    d_arc = f"{R_EARTH!r} * asin(least(abs({sinxt}), 1.0))"
    d_end = (f"least({_hav_sql(plat, plon, alat, alon)}, "
             f"{_hav_sql(plat, plon, blat, blon)})")
    return f"(CASE WHEN {within} THEN {d_arc} ELSE {d_end} END)"


def geodetic_polyline_dist_sql(px: str, py: str, pz: str,
                               plat: str, plon: str,
                               vlat: list, vlon: list) -> str:
    """Min distance to the whole polyline: LEAST over the unrolled
    per-segment twins (min of doubles — order-independent, matching the
    engine's F.min aggregation)."""
    segs = [geodetic_segment_dist_sql(px, py, pz, plat, plon,
                                      vlat[i], vlon[i],
                                      vlat[i + 1], vlon[i + 1])
            for i in range(len(vlat) - 1)]
    return segs[0] if len(segs) == 1 else f"LEAST({', '.join(segs)})"


def geodetic_hotspot_gi(docs_ll: DataFrame, res: int) -> DataFrame:
    """Getis-Ord Gi* on the SPHERE's lat/lon raster — the planar
    hotspot (tiles.hotspot_gi) with the neighborhood topology the globe
    actually has: the 3×3 window WRAPS in longitude (the antimeridian
    column's neighbors are on the other side of the date line) and
    clamps at the poles, so W_i = 3·(3 − lat-edge clamps); everything
    else is the same exact-int64 / fixed-double-dag discipline.

    The score is tiles.hotspot_gi's (tiles._gi_star) over the wrapping
    splat. Returns (ix, iy, w_i, s_i, gi) over the 2^res × 2^res lat/lon
    grid (geo_cell_col's binning). Raises ValueError below res 2: at
    n ≤ 2 the lon wrap would alias a cell into its own neighborhood and
    double-count."""
    if res < 2:
        raise ValueError(f"geodetic_hotspot_gi needs res >= 2, got {res} "
                         "(the longitude wrap would double-count)")
    n = 1 << res
    base = (docs_ll.select(F.least(_lon_col(F.col("lon"), n),
                                   F.lit(n - 1)).alias("ix"),
                           _lat_row(F.col("lat"), n).alias("iy"))
            .groupBy("ix", "iy").agg(F.count(F.lit(1)).alias("n_docs")))
    gi = _gi_star(base, _wrap_splat3(base, n), F.lit(3) * _edge_w("ty", n),
                  n)
    return gi.select(F.col("tx").alias("ix"), F.col("ty").alias("iy"),
                     "w_i", "s_i", "gi")


def _wrap_splat3(base: DataFrame, n: int) -> DataFrame:
    """Each lat/lon raster row × its 3×3 neighbourhood ``tx``/``ty``:
    columns wrap across the antimeridian, rows clip at the poles."""
    return (base
            .withColumn("txr", F.explode(F.sequence(F.col("ix") - 1,
                                                    F.col("ix") + 1)))
            .withColumn("ty", F.explode(F.sequence(F.col("iy") - 1,
                                                   F.col("iy") + 1)))
            .withColumn("tx", (F.col("txr") + F.lit(n)) % F.lit(n))
            .filter((F.col("ty") >= 0) & (F.col("ty") <= n - 1)))


def geodetic_simplify(lines_ll: DataFrame, eps_m: float,
                      max_rounds: int = 6) -> DataFrame:
    """Douglas-Peucker on the SPHERE — the planar
    lines.simplify_polylines with the great-circle point-to-arc
    distance (geodetic_segment_dist_m): per BFS round, every active
    anchor (i, j) finds its max-deviation interior vertex by the
    CENTIMETER-quantized arc distance (round(d_m·100), HALF_UP both
    engines — the geodetic 2-dp discipline; argmax ties on the smaller
    idx) and splits iff dq > eps_m·100. ``lines_ll`` carries
    (line_id, vlat, vlon). Returns (line_id, idx, vlat, vlon)."""
    return _douglas_peucker(lines_ll, "vlat", "vlon",
                            geodetic_segment_dist_m, eps_m, max_rounds,
                            100.0)
