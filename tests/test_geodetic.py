"""Geodetic kernel + pruned great-circle kNN (operators/geodetic.py):
haversine twins, exact rect bounds, and lossless pruning vs the
exhaustive scan on pole / antimeridian / clustered corpora."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.operators.geodetic import (
    R_EARTH, _rect_haversine_bounds, geodetic_knn, geodetic_knn_bruteforce,
    haversine_col, np_haversine)
from mbrngq_spark.oracle import ngq_bruteforce


def test_haversine_known_values():
    # 1 degree of longitude at the equator
    assert abs(np_haversine(0, 0, 0, 1) - 111_195) < 100
    # antipodal
    assert abs(np_haversine(0, 0, 0, 180) - np.pi * R_EARTH) < 1
    # antimeridian wrap: 179.5E to 179.5W is 1 degree, not 359
    assert abs(np_haversine(0, 179.5, 0, -179.5)
               - np_haversine(0, 0, 0, 1)) < 1e-6
    # pole to pole
    assert abs(np_haversine(90, 0, -90, 77) - np.pi * R_EARTH) < 1


def test_haversine_col_matches_numpy_twin(spark):
    rng = np.random.default_rng(41)
    pdf = pd.DataFrame({
        "lat1": rng.uniform(-90, 90, 300),
        "lon1": rng.uniform(-180, 180, 300),
        "lat2": rng.uniform(-90, 90, 300),
        "lon2": rng.uniform(-180, 180, 300)})
    got = (spark.createDataFrame(pdf)
           .select(haversine_col(F.col("lat1"), F.col("lon1"),
                                 F.col("lat2"), F.col("lon2")).alias("d"))
           .toPandas()["d"].to_numpy())
    exp = np_haversine(pdf.lat1.to_numpy(), pdf.lon1.to_numpy(),
                       pdf.lat2.to_numpy(), pdf.lon2.to_numpy())
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-6)


def test_rect_bounds_contain_all_rect_points():
    """Property: for random rects (including antimeridian-adjacent and
    polar ones) every densely-sampled rect point's distance lies within
    [dmin, dmax], and the bounds are tight against the sampled extremes."""
    rng = np.random.default_rng(42)
    for _ in range(60):
        lat0 = rng.uniform(-90, 85)
        lat1 = lat0 + rng.uniform(0.5, min(25, 90 - lat0))
        lon0 = rng.uniform(-180, 175)
        lon1 = lon0 + rng.uniform(0.5, 40)
        qlat = rng.uniform(-90, 90)
        qlon = rng.uniform(-180, 180)
        dmin, dmax = _rect_haversine_bounds(
            qlat, qlon, np.float64(lat0), np.float64(lat1),
            np.float64(lon0), np.float64(lon1))
        g = np.linspace(0, 1, 25)
        lats = lat0 + g * (lat1 - lat0)
        lons = lon0 + g * (lon1 - lon0)
        dd = np_haversine(qlat, qlon, lats[:, None], lons[None, :])
        assert dmin <= dd.min() + 1e-6, (qlat, qlon, lat0, lat1, lon0, lon1)
        assert dmax >= dd.max() - 1e-6
        # exactness: the analytic bounds touch the sampled extremes
        # (sampling grid is 25x25 → allow its discretization error)
        cell_km = max(lat1 - lat0, lon1 - lon0) / 24 * 111.2e3
        assert dmin >= dd.min() - 2 * cell_km
        assert dmax <= dd.max() + 2 * cell_km


def _corpus(rng, kind, n=4000):
    if kind == "uniform":
        lat = rng.uniform(-90, 90, n)
        lon = rng.uniform(-180, 180, n)
    elif kind == "polar":
        lat = np.clip(rng.normal(87, 2, n), -90, 90)
        lon = rng.uniform(-180, 180, n)
    else:                                   # antimeridian cluster
        lat = rng.normal(10, 5, n)
        lon = np.mod(rng.normal(180, 3, n) + 180, 360) - 180
    return pd.DataFrame({"doc_id": np.arange(n), "lat": lat, "lon": lon})


@pytest.mark.parametrize("kind", ["uniform", "polar", "antimeridian"])
def test_pruned_knn_equals_bruteforce(spark, kind):
    rng = np.random.default_rng(hash(kind) % 2**31)
    docs = spark.createDataFrame(_corpus(rng, kind))
    queries = pd.DataFrame({
        "query_id": np.arange(8),
        "qlat": [0.0, 89.5, -89.0, 45.0, 10.0, -10.0, 60.0, 5.0],
        "qlon": [0.0, 13.0, -100.0, 179.9, -179.9, 180.0 - 360, 120.0, 77.0],
    })
    queries["qlon"] = np.mod(queries["qlon"] + 180, 360) - 180
    a = geodetic_knn(spark, docs, queries, k=7, res=5).collect()
    b = geodetic_knn_bruteforce(spark, docs, queries, k=7).collect()
    ka = sorted((r.query_id, r.rnk, r.doc_id, r.dist_m) for r in a)
    kb = sorted((r.query_id, r.rnk, r.doc_id, r.dist_m) for r in b)
    assert ka == kb


def test_pruned_knn_ships_fraction_of_cells():
    """The point of pruning: the planner keeps a small fraction of the
    non-empty cells for an interior query (not the whole sphere)."""
    from mbrngq_spark.operators.geodetic import plan_geo_cells

    rng = np.random.default_rng(7)
    docs_pd = _corpus(rng, "uniform", n=20000)
    res, n = 6, 1 << 6
    iy = np.minimum(((docs_pd.lat + 90) // (180 / n)).astype(np.int64),
                    n - 1)
    ix = np.minimum(((docs_pd.lon + 180) // (360 / n)).astype(np.int64),
                    n - 1)
    stats = pd.DataFrame({"cell": iy * n + ix}).value_counts() \
        .rename("n").reset_index()
    queries = pd.DataFrame({"query_id": [0], "qlat": [20.0], "qlon": [30.0]})
    plan = plan_geo_cells(stats, queries, k=5, res=res)
    assert 0 < len(plan) < 0.05 * stats.shape[0]


def _cell_stats(docs_pd, res):
    n = 1 << res
    iy = np.minimum(((docs_pd.lat + 90) // (180 / n)).astype(np.int64),
                    n - 1)
    ix = np.minimum(((docs_pd.lon + 180) // (360 / n)).astype(np.int64),
                    n - 1)
    return pd.DataFrame({"cell": iy * n + ix}).value_counts() \
        .rename("n").reset_index()


@pytest.mark.parametrize("kind", ["uniform", "polar", "antimeridian"])
def test_fine_stats_tighten_geo_radius_losslessly(kind):
    """Stats finer than the plan's res tighten the k-bound per fine cell:
    every query's radius still covers its kth rounded distance (the row
    filter loses no answer), and on the clustered corpora most radii
    shrink."""
    from mbrngq_spark.operators.geodetic import np_haversine, plan_geo_cells

    rng = np.random.default_rng(17)
    docs_pd = _corpus(rng, kind)
    queries = pd.DataFrame({
        "query_id": np.arange(40),
        "qlat": np.degrees(np.arcsin(rng.uniform(-1, 1, 40))),
        "qlon": rng.uniform(-180, 180, 40)})
    k, res = 7, 5

    def radii(stats, stats_res=None):
        plan = plan_geo_cells(stats, queries, k, res, stats_res=stats_res)
        return plan.groupby("query_id")["radius"].first() \
            .reindex(queries.query_id).to_numpy()

    coarse = radii(_cell_stats(docs_pd, res))
    fine = radii(_cell_stats(docs_pd, 8), stats_res=8)
    d = np.round(np_haversine(queries.qlat.to_numpy()[:, None],
                              queries.qlon.to_numpy()[:, None],
                              docs_pd.lat.to_numpy()[None, :],
                              docs_pd.lon.to_numpy()[None, :]), 2)
    kth = np.sort(d, axis=1)[:, k - 1]
    assert (fine >= kth).all() and (coarse >= kth).all()
    if kind != "uniform":
        assert (fine < coarse).mean() > 0.5


@pytest.mark.parametrize("kind", ["uniform", "antimeridian"])
def test_geodetic_range_equals_exhaustive(spark, kind):
    from mbrngq_spark.operators.geodetic import geodetic_range

    rng = np.random.default_rng(11)
    docs_pd = _corpus(rng, kind, n=3000)
    docs = spark.createDataFrame(docs_pd)
    queries = pd.DataFrame({
        "query_id": [0, 1, 2],
        "qlat": [10.0, 88.0, 12.0],
        "qlon": [179.8, 0.0, -178.0]})
    R = 800_000.0
    got = {(r.query_id, r.doc_id, r.dist_m)
           for r in geodetic_range(spark, docs, queries, R, res=5).collect()}
    exp = set()
    for _, q in queries.iterrows():
        dd = np.round(np_haversine(q.qlat, q.qlon,
                                   docs_pd.lat.to_numpy(),
                                   docs_pd.lon.to_numpy()), 2)
        for did, dm in zip(docs_pd.doc_id[dd <= R], dd[dd <= R]):
            exp.add((q.query_id, int(did), float(dm)))
    assert got == exp


def _both_forms(spark, fn, qpd, key, n_parts=7):
    """``fn(queries)`` with pandas and with DataFrame queries (planned
    per Arrow batch in mapInPandas) → the two sorted row lists."""
    a = sorted(key(r) for r in fn(qpd).collect())
    qdf = spark.createDataFrame(qpd).repartition(n_parts)
    b = sorted(key(r) for r in fn(qdf).collect())
    return a, b


def _knn_key(r):
    return (r.query_id, r.rnk, r.doc_id, r.dist_m)


def test_distributed_geo_knn_equals_driver_planned(spark):
    """geodetic_knn with DataFrame queries (planner in mapInPandas) must
    produce exactly the rows of the same call with pandas queries."""
    rng = np.random.default_rng(19)
    docs = spark.createDataFrame(_corpus(rng, "uniform", n=5000))
    qpd = pd.DataFrame({
        "query_id": np.arange(300),
        "qlat": rng.uniform(-90, 90, 300),
        "qlon": rng.uniform(-180, 180, 300)})
    a, b = _both_forms(
        spark, lambda q: geodetic_knn(spark, docs, q, k=5, res=5), qpd,
        _knn_key)
    assert a == b and len(a) == 5 * 300


def test_geodetic_knn_dataframe_queries_radius_capped(spark):
    """The radius cap holds for DataFrame queries too: the distributed
    planner prunes past the cap, and the rows equal the exhaustive
    capped scan."""
    rng = np.random.default_rng(23)
    docs = spark.createDataFrame(_corpus(rng, "antimeridian", n=2500))
    qpd = pd.DataFrame({              # around the cluster and beyond
        "query_id": np.arange(40),
        "qlat": rng.normal(10, 10, 40),
        "qlon": np.mod(rng.normal(180, 10, 40) + 180, 360) - 180})
    cap = 600_000.0
    got = geodetic_knn(spark, docs, spark.createDataFrame(qpd).repartition(3),
                       k=7, res=5, max_dist_m=cap).collect()
    exp = geodetic_knn_bruteforce(spark, docs, qpd, k=7,
                                  max_dist_m=cap).collect()
    assert sorted(map(_knn_key, got)) == sorted(map(_knn_key, exp))
    assert 0 < len(got) < 7 * 40          # the cap really bites


def test_geodetic_empty_and_tiny_corpora(spark):
    """Empty corpus → empty result (no empty-pandas schema-inference
    crash — CLAUDE.md footgun); corpus smaller than k → all docs
    returned."""
    empty = spark.createDataFrame([], "doc_id long, lat double, lon double")
    q = pd.DataFrame({"query_id": [0], "qlat": [10.0], "qlon": [20.0]})
    assert geodetic_knn(spark, empty, q, k=5, res=4).count() == 0
    tiny = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "lat": [0.0, 5.0],
                      "lon": [0.0, 5.0]}))
    assert geodetic_knn(spark, tiny, q, k=5, res=4).count() == 2


@pytest.mark.parametrize("kind", ["uniform", "polar", "antimeridian"])
def test_geodetic_pairs_equals_exhaustive(spark, kind):
    from mbrngq_spark.operators.geodetic import geodetic_pairs

    rng = np.random.default_rng(hash(kind) % 2**31 + 1)
    docs_pd = _corpus(rng, kind, n=700)
    docs = spark.createDataFrame(docs_pd)
    eps = 400_000.0
    got = {(r.a_id, r.b_id, r.dist_m)
           for r in geodetic_pairs(spark, docs, eps, res=4).collect()}
    lat = docs_pd.lat.to_numpy()
    lon = docs_pd.lon.to_numpy()
    dd = np.round(np_haversine(lat[:, None], lon[:, None],
                               lat[None, :], lon[None, :]), 2)
    ii, jj = np.nonzero((dd <= eps) & (np.arange(len(lat))[:, None]
                                       < np.arange(len(lat))[None, :]))
    exp = {(int(docs_pd.doc_id[i]), int(docs_pd.doc_id[j]),
            float(dd[i, j])) for i, j in zip(ii, jj)}
    assert got == exp


def _rounded_haversine(alat, alon, blat, blon):
    return np.round(np_haversine(alat, alon, blat, blon), 2)


def _geo_ngq_oracle(docs_pd, queries, m, k, L):
    """The fixed-L spherical NGQ reference, independent of the engine's
    pruning: per query, each category truncated in pandas to its L
    nearest by (rounded dq, doc_id), then the exhaustive
    oracle.ngq_bruteforce with the 2-dp-rounded haversine."""
    lat, lon = docs_pd.lat.to_numpy(), docs_pd.lon.to_numpy()
    rows = []
    for q in queries.itertuples(index=False):
        top = (docs_pd.assign(dq=_rounded_haversine(lat, lon, q.qlat, q.qlon))
               .sort_values(["dq", "doc_id"]).groupby("category").head(L)
               .rename(columns={"lat": "x", "lon": "y"}))
        exp = ngq_bruteforce(top, q.qlat, q.qlon, m, k,
                             dist=_rounded_haversine)
        for r in exp.itertuples(index=False):
            rows.append((q.query_id, r.group_rank,
                         ",".join(str(getattr(r, f"c{c}_id"))
                                  for c in range(m)),
                         float(np.round(r.min_dist, 2))))
    return sorted(rows)


def _geo_ngq_rows(out):
    return sorted((r.query_id, r.group_rank, r.members, r.min_dist)
                  for r in out.collect())


@pytest.mark.parametrize("kind", ["uniform", "polar", "antimeridian"])
def test_geo_ngq_equals_bruteforce(spark, kind):
    """Spherical NGQ (geodetic_nearest_group): the cell-pruned fixed-L
    path must equal the exhaustive pandas/NumPy reference on pole /
    antimeridian corpora — pruning invisible, same (score, id-tuple)
    order."""
    from mbrngq_spark.operators.geodetic import geodetic_nearest_group

    rng = np.random.default_rng(hash(kind) % 2**31 + 7)
    docs_pd = _corpus(rng, kind, n=900)
    docs_pd["category"] = np.arange(len(docs_pd)) % 3
    docs = spark.createDataFrame(docs_pd)
    queries = pd.DataFrame({
        "query_id": np.arange(6),
        "qlat": [0.0, 89.5, -89.0, 45.0, 10.0, 60.0],
        "qlon": [0.0, 13.0, -100.0, 179.9, -179.9, 120.0]})
    got = _geo_ngq_rows(geodetic_nearest_group(spark, docs, queries, m=3,
                                               k=4, L=5, res=4))
    assert got == _geo_ngq_oracle(docs_pd, queries, 3, 4, 5)
    assert len(got) == 4 * len(queries)


def test_geo_ngq_empty_category(spark):
    """A query with an empty category yields no groups (the reference's
    'no feasible group' case) rather than a crash."""
    from mbrngq_spark.operators.geodetic import geodetic_nearest_group

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3], "lat": [0.0, 1.0, 2.0],
        "lon": [0.0, 1.0, 2.0], "category": [0, 0, 1]}))  # no category 2
    q = pd.DataFrame({"query_id": [0], "qlat": [0.0], "qlon": [0.0]})
    out = geodetic_nearest_group(spark, docs, q, m=3, k=3, L=4, res=4)
    assert out.count() == 0


def test_distributed_geo_range_equals_driver_planned(spark):
    """Large-Q parity for the spherical range query: 10k DataFrame
    queries must match the same call with pandas queries row for row."""
    from mbrngq_spark.operators.geodetic import geodetic_range

    rng = np.random.default_rng(1234)
    docs = spark.createDataFrame(_corpus(rng, "uniform", n=3000))
    nq = 10_000
    qpd = pd.DataFrame({
        "query_id": np.arange(nq),
        "qlat": rng.uniform(-90, 90, nq),
        "qlon": rng.uniform(-180, 180, nq)})
    a, b = _both_forms(
        spark, lambda q: geodetic_range(spark, docs, q, 300_000.0, res=4),
        qpd, lambda r: (r.query_id, r.doc_id, r.dist_m), n_parts=9)
    assert a == b
    assert len(a) > 0


@pytest.mark.parametrize("kind", ["uniform", "polar"])
def test_distributed_geo_pairs_equals_driver_planned(kind):
    """geodetic_pairs plans cell pairs per Arrow batch of probe cells in
    mapInPandas: the union of per-batch plans must equal the one (C × C)
    matrix planned at once (the join itself is checked against the
    exhaustive scan by test_geodetic_pairs_equals_exhaustive)."""
    from mbrngq_spark.operators.geodetic import plan_geo_pair_cells

    rng = np.random.default_rng(hash(kind) % 2**31 + 99)
    docs_pd = _corpus(rng, kind, n=600)
    eps, res = 400_000.0, 4
    n = 1 << res
    cells = np.unique(
        np.minimum(((docs_pd.lat + 90) // (180 / n)).astype(np.int64), n - 1)
        * n
        + np.minimum(((docs_pd.lon + 180) // (360 / n)).astype(np.int64),
                     n - 1))
    whole = plan_geo_pair_cells(cells, cells, eps, res)
    batched = pd.concat([plan_geo_pair_cells(b, cells, eps, res)
                         for b in np.array_split(cells, 5)])
    assert sorted(map(tuple, whole.to_numpy())) == \
        sorted(map(tuple, batched.to_numpy()))
    assert len(whole) > len(cells)


def test_distributed_geo_ngq_equals_driver_planned(spark):
    """Large-Q parity for the spherical NGQ: DataFrame queries must match
    the same call with pandas queries row for row."""
    from mbrngq_spark.operators.geodetic import geodetic_nearest_group

    rng = np.random.default_rng(4242)
    docs_pd = _corpus(rng, "uniform", n=1200)
    docs_pd["category"] = np.arange(len(docs_pd)) % 3
    docs = spark.createDataFrame(docs_pd)
    nq = 500
    qpd = pd.DataFrame({
        "query_id": np.arange(nq),
        "qlat": rng.uniform(-90, 90, nq),
        "qlon": rng.uniform(-180, 180, nq)})
    a, b = _both_forms(
        spark, lambda q: geodetic_nearest_group(spark, docs, q, m=3, k=3,
                                                L=4, res=4),
        qpd, lambda r: (r.query_id, r.group_rank, r.members, r.min_dist))
    assert a == b and len(a) == 3 * nq


def test_geodetic_pip_matches_numpy_twin(spark):
    """Spherical PIP: wrap-normalized PNPOLY equals the NumPy twin on a
    corpus straddling the antimeridian, for polygons that cross it and
    ones that don't."""
    from mbrngq_spark.operators.geodetic import (
        geodetic_point_in_polygon, np_geodetic_pip)

    rng = np.random.default_rng(31)
    docs_pd = pd.DataFrame({
        "doc_id": np.arange(3000),
        "lat": rng.uniform(-60, 60, 3000),
        "lon": rng.uniform(-180, 180, 3000)})
    polys = pd.DataFrame({
        "poly_id": [0, 1],
        # 0: antimeridian-crossing quad (175E..-175E); 1: plain triangle
        "vlat": [[-20.0, -20.0, 25.0, 25.0], [10.0, 40.0, 25.0]],
        "vlon": [[170.0, -170.0, -165.0, 172.0], [-30.0, -20.0, 5.0]]})
    docs = spark.createDataFrame(docs_pd)
    got = {(r.poly_id, r.doc_id) for r in
           geodetic_point_in_polygon(docs, polys).collect()}
    exp = set()
    for r in polys.itertuples(index=False):
        mask = np_geodetic_pip(docs_pd.lat.to_numpy(),
                               docs_pd.lon.to_numpy(),
                               list(r.vlat), list(r.vlon))
        exp |= {(r.poly_id, int(d))
                for d in docs_pd.doc_id.to_numpy()[mask]}
    assert got == exp
    assert len(got) > 50   # both polygons actually catch points


def _clustered_geo():
    rng = np.random.default_rng(77)
    n = 3000
    centers = [(70.0, 170.0), (-40.0, -60.0), (5.0, 60.0)]
    lat = np.concatenate([
        np.clip(rng.normal(c[0], 3, n // 3), -90, 90) for c in centers])
    lon = np.concatenate([
        np.mod(rng.normal(c[1], 3, n // 3) + 180, 360) - 180
        for c in centers])
    docs_pd = pd.DataFrame({
        "doc_id": np.arange(n), "lat": lat, "lon": lon,
        "category": np.repeat([0, 1, 2], n // 3)})
    queries = pd.DataFrame({
        "query_id": np.arange(4),
        "qlat": [70.0, -40.0, 0.0, 89.0],
        "qlon": [170.0, -60.0, 0.0, -179.0]})
    return docs_pd, queries


def test_geo_ngq_clustered_sweep(spark):
    """Stress the spherical NGQ where pruning matters: three dense
    clusters (one per category) far apart — the island regime on the
    sphere. Pruned fixed-L path must still equal the exhaustive
    reference."""
    from mbrngq_spark.operators.geodetic import geodetic_nearest_group

    docs_pd, queries = _clustered_geo()
    got = _geo_ngq_rows(geodetic_nearest_group(
        spark, spark.createDataFrame(docs_pd), queries, m=3, k=6, L=8,
        res=5))
    assert got == _geo_ngq_oracle(docs_pd, queries, 3, 6, 8)
    assert len(got) == 24


def test_geo_ngq_clustered_theta_active(spark):
    """The clustered corpus at L=20: L³ = 8000 candidate groups per
    query exceed the refine's theta threshold (4096), so theta pruning
    — with GEO's rounding slack — runs on every query and must stay
    invisible against the exhaustive reference."""
    from mbrngq_spark.operators.geodetic import geodetic_nearest_group

    docs_pd, queries = _clustered_geo()
    got = _geo_ngq_rows(geodetic_nearest_group(
        spark, spark.createDataFrame(docs_pd), queries, m=3, k=6, L=20,
        res=5))
    assert got == _geo_ngq_oracle(docs_pd, queries, 3, 6, 20)
    assert len(got) == 24


@pytest.mark.parametrize("kind", ["uniform", "polar", "antimeridian"])
def test_geodetic_knn_radius_capped(spark, kind):
    """Radius-capped spherical kNN (the furthestDistance contract on the
    sphere): pruned path equals the capped exhaustive twin; some queries
    return fewer than k rows and the cap prunes planner cells."""
    rng = np.random.default_rng(hash(kind) % 2**31 + 5)
    docs = spark.createDataFrame(_corpus(rng, kind, n=2500))
    queries = pd.DataFrame({
        "query_id": np.arange(6),
        "qlat": [0.0, 89.5, -89.0, 45.0, 10.0, 60.0],
        "qlon": [0.0, 13.0, -100.0, 179.9, -179.9, 120.0]})
    cap = 900_000.0
    a = geodetic_knn(spark, docs, queries, k=7, res=5,
                     max_dist_m=cap).collect()
    b = geodetic_knn_bruteforce(spark, docs, queries, k=7,
                                max_dist_m=cap).collect()
    ka = sorted((r.query_id, r.rnk, r.doc_id, r.dist_m) for r in a)
    kb = sorted((r.query_id, r.rnk, r.doc_id, r.dist_m) for r in b)
    assert ka == kb
    assert all(r.dist_m <= cap for r in a)


def test_geodetic_pip_polygon_forms_equal_twin(spark):
    """Spherical PIP takes its polygons as a pandas frame (cover
    broadcast) or a DataFrame (AQE picks the cover join): both give the
    rows of the NumPy twin, on a corpus straddling the antimeridian with
    a crossing quad, a plain triangle and a concave arrow with a
    horizontal edge (ANSI try_divide stress)."""
    from mbrngq_spark.operators.geodetic import (
        geodetic_point_in_polygon, np_geodetic_pip)

    rng = np.random.default_rng(47)
    docs_pd = pd.DataFrame({
        "doc_id": np.arange(3000),
        "lat": rng.uniform(-60, 60, 3000),
        "lon": rng.uniform(-180, 180, 3000)})
    polys = pd.DataFrame({
        "poly_id": [0, 1, 2],
        "vlat": [[-20.0, -20.0, 25.0, 25.0], [10.0, 40.0, 25.0],
                 [-50.0, -50.0, -30.0, -45.0, -25.0]],
        "vlon": [[170.0, -170.0, -165.0, 172.0], [-30.0, -20.0, 5.0],
                 [40.0, 80.0, 60.0, 55.0, 45.0]]})
    docs = spark.createDataFrame(docs_pd)
    exp = set()
    for r in polys.itertuples(index=False):
        mask = np_geodetic_pip(docs_pd.lat.to_numpy(),
                               docs_pd.lon.to_numpy(),
                               list(r.vlat), list(r.vlon))
        exp |= {(r.poly_id, int(d))
                for d in docs_pd.doc_id.to_numpy()[mask]}
    polys_df = spark.createDataFrame(
        polys, "poly_id long, vlat array<double>, vlon array<double>")
    for form in (polys, polys_df):
        got = {(r.poly_id, r.doc_id) for r in
               geodetic_point_in_polygon(docs, form).collect()}
        assert got == exp, type(form)
    assert len(exp) > 50


def test_geodetic_polygon_cover_matches_center_oracle(spark):
    """Spherical rasterization == brute force: every lat/lon-grid tile
    whose CENTER np_geodetic_pip puts inside, for an antimeridian-
    crossing quad, a plain triangle, and a concave horizontal-edge
    arrow."""
    from mbrngq_spark.operators.geodetic import (geodetic_polygon_cover,
                                                 np_geodetic_pip)

    polys = pd.DataFrame({
        "poly_id": [0, 1, 2],
        "vlat": [[-20.0, -20.0, 25.0, 25.0], [10.0, 40.0, 25.0],
                 [-50.0, -50.0, -30.0, -45.0, -25.0]],
        "vlon": [[170.0, -170.0, -165.0, 172.0], [-30.0, -20.0, 5.0],
                 [40.0, 80.0, 60.0, 55.0, 45.0]]})
    res = 5
    n = 1 << res
    wlat, wlon = 180.0 / n, 360.0 / n
    polys_df = spark.createDataFrame(
        polys, "poly_id long, vlat array<double>, vlon array<double>")
    got = {}
    for r in geodetic_polygon_cover(polys_df, res=res).collect():
        got.setdefault(r["poly_id"], set()).add((r["iy"], r["ix"]))
    iy, ix = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    clat = -90.0 + (iy.ravel() + 0.5) * wlat
    clon = -180.0 + (ix.ravel() + 0.5) * wlon
    for r in polys.itertuples(index=False):
        mask = np_geodetic_pip(clat, clon, list(r.vlat), list(r.vlon))
        exp = {(int(a), int(b))
               for a, b in zip(iy.ravel()[mask], ix.ravel()[mask])}
        assert got.get(r.poly_id, set()) == exp, r.poly_id
        assert len(exp) > 3


def test_geodetic_polygon_area_three_engine_and_exactness(spark):
    """Signed-excess fan area: Spark == DuckDB == pure-Python after the
    one 4-dp rounding; an octant triangle hits the closed form 4πR²/8
    exactly; cyclic vertex rotation and orientation reversal leave the
    area invariant; a tiny triangle approaches its planar area; and the
    plan is map-only pure Column (no Exchange, no Python)."""
    import math

    import duckdb

    from mbrngq_spark.operators.geodetic import (
        R_EARTH, geodetic_polygon_area, geodetic_polygon_area_py,
        geodetic_polygon_area_sql)

    polys = [
        (10, [-20.0, -20.0, 25.0, 25.0], [170.0, -170.0, -165.0, 172.0]),
        (11, [10.0, 40.0, 25.0], [-30.0, -20.0, 5.0]),
        (12, [-50.0, -50.0, -30.0, -45.0, -25.0],
         [40.0, 80.0, 60.0, 55.0, 45.0]),
        (13, [0.0, 0.0, 90.0], [0.0, 90.0, 0.0]),          # octant
        (14, [10.0, 10.0, 10.09], [20.0, 20.09, 20.0]),    # ~50 km²
    ]

    def df_of(ps):
        return spark.createDataFrame(
            pd.DataFrame({"poly_id": [p[0] for p in ps],
                          "vlat": [p[1] for p in ps],
                          "vlon": [p[2] for p in ps]}),
            "poly_id long, vlat array<double>, vlon array<double>")

    out = geodetic_polygon_area(df_of(polys))
    got = {r["poly_id"]: r["area_km2"] for r in out.collect()}
    duck = dict(duckdb.sql(geodetic_polygon_area_sql(polys)).fetchall())
    py = {p[0]: geodetic_polygon_area_py(p[1], p[2]) for p in polys}
    assert got == duck == py
    r_km = R_EARTH / 1000.0
    assert got[13] == round(4 * math.pi * r_km * r_km / 8, 4)
    # rotation + reversal invariance (signed fan, |Σ| drops orientation)
    rot = [(20, polys[2][1][2:] + polys[2][1][:2],
            polys[2][2][2:] + polys[2][2][:2]),
           (21, polys[2][1][::-1], polys[2][2][::-1])]
    inv = {r["poly_id"]: r["area_km2"]
           for r in geodetic_polygon_area(df_of(rot)).collect()}
    assert abs(inv[20] - got[12]) < 1e-3 and abs(inv[21] - got[12]) < 1e-3
    # small triangle ≈ planar: legs ~0.09° at lat 10
    leg_ns = 0.09 * math.pi / 180 * r_km
    leg_ew = 0.09 * math.pi / 180 * r_km * math.cos(math.radians(10.0))
    planar = leg_ns * leg_ew / 2
    assert abs(got[14] / planar - 1) < 0.01, (got[14], planar)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


@pytest.mark.parametrize("kind", ["uniform", "antimeridian"])
def test_geodetic_polyline_join_equals_exhaustive(spark, kind):
    """Corridor join vs the exhaustive NumPy point-to-arc min over all
    segments — same rounded distances, same pair set; the antimeridian
    corpus forces the wrapped-cover path, and the route set includes a
    wrap-crossing line."""
    from mbrngq_spark.operators.geodetic import (geodetic_polyline_join,
                                                 np_geodetic_segment_dist)
    rng = np.random.default_rng(hash(kind) % 2**31)
    docs = spark.createDataFrame(_corpus(rng, kind, n=1500))
    lines = [
        (0, [-10.0, 0.0, 15.0], [100.0, 130.0, 160.0]),
        (1, [5.0, 20.0, 25.0], [170.0, -175.0, -160.0]),
        (2, [-40.0, -35.0], [-60.0, -20.0]),
    ]
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [l[0] for l in lines],
                      "vlat": [l[1] for l in lines],
                      "vlon": [l[2] for l in lines]}),
        "line_id long, vlat array<double>, vlon array<double>")
    R = 900_000.0
    got = {(int(r.line_id), int(r.doc_id)): r.dist_m
           for r in geodetic_polyline_join(docs, lines_df, R).collect()}
    pdf = _corpus(rng, kind, n=1500)
    rng2 = np.random.default_rng(hash(kind) % 2**31)
    pdf = _corpus(rng2, kind, n=1500)
    exp = {}
    for lid, vlat, vlon in lines:
        dm = np.min([np_geodetic_segment_dist(
            pdf.lat.to_numpy(), pdf.lon.to_numpy(),
            vlat[i], vlon[i], vlat[i + 1], vlon[i + 1])
            for i in range(len(vlat) - 1)], axis=0)
        dr = np.round(dm, 2)
        for j in np.where(dr <= R)[0]:
            exp[(lid, int(pdf.doc_id.iloc[j]))] = dr[j]
    assert set(got) == set(exp)
    for k in got:
        assert abs(got[k] - exp[k]) <= 0.011, (k, got[k], exp[k])
    if kind == "antimeridian":
        assert sum(1 for (lid, _) in got if lid == 1) > 0


def test_geodetic_segment_degenerate_and_endpoint_branch(spark):
    """Zero-length segment behaves as a point; a point past the arc's
    end takes the endpoint branch (continuity pin)."""
    from mbrngq_spark.operators.geodetic import (geodetic_polyline_join,
                                                 np_haversine)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "lat": [0.0, 30.0],
                      "lon": [10.0, 60.0]}))
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [0, 1],
                      "vlat": [[0.0, 0.0], [0.0, 0.0]],
                      "vlon": [[20.0, 20.0], [30.0, 50.0]]}),
        "line_id long, vlat array<double>, vlon array<double>")
    got = {(int(r.line_id), int(r.doc_id)): r.dist_m
           for r in geodetic_polyline_join(
               docs, lines_df, 5_000_000.0).collect()}
    # degenerate line 0 == point (20, 0); doc 0 pure endpoint distance
    assert got[(0, 0)] == round(
        float(np_haversine(0.0, 10.0, 0.0, 20.0)), 2)
    # doc 0 is west of line 1's start -> endpoint branch to (30, 0)
    assert got[(1, 0)] == round(
        float(np_haversine(0.0, 10.0, 0.0, 30.0)), 2)


def test_geodetic_hotspot_gi_wrap_bit_exact(spark):
    """Spherical Gi*: NumPy recompute with the lon-WRAPPED, lat-clamped
    neighborhood asserted with == (bit-exact); an antimeridian pair
    (ix=0 and ix=n−1) must see each other's counts."""
    import math

    from mbrngq_spark.functions import derive
    from mbrngq_spark.operators.geodetic import geodetic_hotspot_gi
    from tests.conftest import SF_DIR

    res = 5
    n = 1 << res
    nn = float(n * n)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    dg = derive.with_geometry(docs).select(
        "doc_id",
        (F.col("y") * 1.8 - 90.0).alias("lat"),
        (F.col("x") * 3.6 - 180.0).alias("lon"))
    got = {(int(r.ix), int(r.iy)): (int(r.w_i), int(r.s_i), float(r.gi))
           for r in geodetic_hotspot_gi(dg, res).collect()}

    pdf = dg.toPandas()
    ix = np.minimum(np.floor((pdf.lon.to_numpy() + 180.0)
                             / (360.0 / n)).astype(int), n - 1)
    iy = np.minimum(np.floor((pdf.lat.to_numpy() + 90.0)
                             / (180.0 / n)).astype(int), n - 1)
    from collections import Counter
    cnt = Counter(zip(ix.tolist(), iy.tolist()))
    total = sum(cnt.values())
    sumsq = sum(c * c for c in cnt.values())
    xbar = float(total) / nn
    s_dev = math.sqrt(float(sumsq) / nn - xbar * xbar)
    focal = {}
    for (cx, cy), c in cnt.items():
        for dx in (-1, 0, 1):
            tx = (cx + dx + n) % n          # lon wraps
            for dy in (-1, 0, 1):
                ty = cy + dy
                if 0 <= ty <= n - 1:        # lat clamps
                    focal[(tx, ty)] = focal.get((tx, ty), 0) + c
    exp = {}
    for (tx, ty), s_i in focal.items():
        w = 3 * (3 - (ty == 0) - (ty == n - 1))
        wd = float(w)
        gi = (float(s_i) - xbar * wd) \
            / (s_dev * math.sqrt((nn * wd - wd * wd) / (nn - 1.0)))
        exp[(tx, ty)] = (w, s_i, gi)
    assert got == exp
    # the wrap is live: some antimeridian column target exists whose
    # focal sum includes a source from the opposite column
    west = {(tx, ty) for (tx, ty) in got if tx == 0}
    assert west and any((n - 1, ty) in got for (_, ty) in west)


def test_write_balanced_layout(spark, tmp_path):
    """write_balanced produces one contiguous-Morton partition per
    part_id whose on-disk doc counts equal the plan's sums."""
    from mbrngq_spark import harness as H
    from mbrngq_spark.index import write_balanced
    from tests.conftest import SF_DIR

    dg = H.load_docs_geo(spark, SF_DIR)
    path = str(tmp_path / "bal")
    plan = write_balanced(dg, path, res=4, n_parts=8).toPandas()
    back = spark.read.parquet(path)
    got = {int(r.part_id): int(r.n) for r in
           back.groupBy("part_id").count()
           .withColumnRenamed("count", "n").collect()}
    exp = plan.groupby("part_id")["n_docs"].sum().astype(int).to_dict()
    assert got == {int(k): int(v) for k, v in exp.items()}
    assert len(got) == 8


def test_geodetic_simplify_matches_python_dp(spark):
    """Spherical Douglas-Peucker == a pure-Python recursive DP using the
    same 3-D point-to-arc kernel and centimeter quantization."""
    import math

    from decimal import ROUND_HALF_UP, Decimal

    from mbrngq_spark.functions import derive
    from mbrngq_spark.operators.geodetic import geodetic_simplify
    from tests.conftest import SF_DIR

    V, eps_m, rounds = 8, 2_000_000.0, 6
    epsq = int(round(eps_m * 100.0))
    sv = F.sequence(F.lit(0), F.lit(V - 1))
    plines = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
              .filter(F.col("doc_id") < 100)
              .select(F.col("doc_id").alias("line_id"))
              .select("line_id",
                      F.transform(sv, lambda i: derive.y_col(
                          F.col("line_id") * 31 + i * 7 + 1) * 1.8 - 90.0)
                      .alias("vlat"),
                      F.transform(sv, lambda i: derive.x_col(
                          F.col("line_id") * 31 + i * 7 + 1) * 3.6 - 180.0)
                      .alias("vlon")))
    got = {}
    for r in geodetic_simplify(plines, eps_m, rounds).collect():
        got.setdefault(int(r.line_id), set()).add(int(r.idx))

    R = 6_371_000.0

    def hav(la1, lo1, la2, lo2):
        dphi = math.radians(la2 - la1)
        dl = math.radians((lo2 - lo1 + 540.0) % 360.0 - 180.0)
        a = (math.sin(dphi / 2) ** 2
             + math.cos(math.radians(la1)) * math.cos(math.radians(la2))
             * math.sin(dl / 2) ** 2)
        return 2 * R * math.asin(min(1.0, math.sqrt(a)))

    def uv(la, lo):
        la, lo = math.radians(la), math.radians(lo)
        return (math.cos(la) * math.cos(lo),
                math.cos(la) * math.sin(lo), math.sin(la))

    def arcdist(p, a, b):
        P, A, B = uv(*p), uv(*a), uv(*b)
        nx = A[1] * B[2] - A[2] * B[1]
        ny = A[2] * B[0] - A[0] * B[2]
        nz = A[0] * B[1] - A[1] * B[0]
        nn = math.sqrt(nx * nx + ny * ny + nz * nz)
        d_end = min(hav(*p, *a), hav(*p, *b))
        if nn == 0.0:
            return d_end
        sinxt = (P[0] * nx + P[1] * ny + P[2] * nz) / nn
        cosxt = math.sqrt(max(1.0 - sinxt * sinxt, 0.0))
        ab = A[0] * B[0] + A[1] * B[1] + A[2] * B[2]
        pa = P[0] * A[0] + P[1] * A[1] + P[2] * A[2]
        pb = P[0] * B[0] + P[1] * B[1] + P[2] * B[2]
        if cosxt != 0.0 and pa / cosxt >= ab and pb / cosxt >= ab:
            return R * math.asin(min(abs(sinxt), 1.0))
        return d_end

    def qc(v):
        return int(Decimal(repr(v * 100.0)).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))

    exp = {}
    for row in plines.collect():
        vl, vo = list(row.vlat), list(row.vlon)
        kept = {0, V - 1}

        def rec(i, j, depth):
            if depth >= rounds or j - i < 2:
                return
            scored = [(qc(arcdist((vl[m], vo[m]), (vl[i], vo[i]),
                                  (vl[j], vo[j]))), -m)
                      for m in range(i + 1, j)]
            best_dq, negm = max(scored)
            m = -negm
            if best_dq > epsq:
                kept.add(m)
                rec(i, m, depth + 1)
                rec(m, j, depth + 1)

        rec(0, V - 1, 0)
        exp[int(row.line_id)] = kept
    assert got == exp
    ns = [len(v) for v in got.values()]
    assert min(ns) >= 2 and max(ns) > 2


def test_geodetic_polyline_join_skips_short_lines(spark):
    """0- and 1-vertex lines have no segments and no rows (they used to
    raise INVALID_ARRAY_INDEX under ANSI); the 2-vertex line keeps its
    corridor."""
    from mbrngq_spark.operators.geodetic import (geodetic_polyline_join,
                                                 np_geodetic_segment_dist)
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "lat": [10.0, 11.0, -40.0],
                      "lon": [20.0, 25.0, 100.0]}))
    lines_df = spark.createDataFrame(
        pd.DataFrame({"line_id": [0, 1, 2],
                      "vlat": [[], [10.0], [10.0, 12.0]],
                      "vlon": [[], [20.0], [18.0, 28.0]]}),
        "line_id long, vlat array<double>, vlon array<double>")
    got = {(int(r.line_id), int(r.doc_id)): r.dist_m
           for r in geodetic_polyline_join(docs, lines_df,
                                           300_000.0).collect()}
    exp = np.round(np_geodetic_segment_dist(
        np.array([10.0, 11.0]), np.array([20.0, 25.0]),
        10.0, 18.0, 12.0, 28.0), 2)
    assert set(got) == {(2, 0), (2, 1)}
    for j in (0, 1):
        assert abs(got[(2, j)] - exp[j]) <= 0.011


def test_geodetic_hotspot_gi_rejects_res_below_2(spark):
    """res 1 would alias the longitude wrap (a cell in its own 3×3
    neighbourhood twice): a ValueError, which ``python -O`` keeps."""
    from mbrngq_spark.operators.geodetic import geodetic_hotspot_gi
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "lat": [0.0], "lon": [0.0]}))
    with pytest.raises(ValueError, match="res >= 2"):
        geodetic_hotspot_gi(docs, 1)
