"""DBSCAN vs a NumPy brute-force oracle (quadratic neighbors + label
propagation) on the sf-dir corpus — exact set equality of (point,
cluster-min-label, core flag), min-label border assignment pinned."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.functions import derive
from mbrngq_spark.operators.clustering import dbscan
from tests.conftest import SF_DIR

EPS, MINPTS = 5.0, 5


@pytest.fixture(scope="module")
def docs_geo(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return derive.with_geometry(docs).select("doc_id", "x", "y")


def _np_dbscan(pdf, eps, min_pts):
    xy = pdf[["x", "y"]].to_numpy()
    ids = pdf.doc_id.to_numpy()
    nbr = np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)) <= eps
    core = nbr.sum(1) >= min_pts
    lbl = {int(ids[i]): int(ids[i]) for i in np.where(core)[0]}
    adj = nbr & core[:, None] & core[None, :]
    changed = True
    while changed:
        changed = False
        for i in np.where(core)[0]:
            m = min(lbl[int(ids[j])] for j in np.where(adj[i])[0])
            if m < lbl[int(ids[i])]:
                lbl[int(ids[i])] = m
                changed = True
    exp = {int(ids[i]): (lbl[int(ids[i])], True) for i in np.where(core)[0]}
    for i in np.where(~core)[0]:
        cn = [lbl[int(ids[j])] for j in np.where(nbr[i] & core)[0]]
        if cn:
            exp[int(ids[i])] = (min(cn), False)
    return exp


def test_dbscan_matches_numpy_oracle(spark, docs_geo):
    got = {int(r.doc_id): (int(r.cluster), bool(r.is_core))
           for r in dbscan(docs_geo, EPS, MINPTS).collect()}
    exp = _np_dbscan(docs_geo.toPandas(), EPS, MINPTS)
    assert got == exp
    # non-degenerate fixture: cores, borders, noise, several clusters
    assert any(c for _, c in got.values()) and any(
        not c for _, c in got.values())
    assert len(got) < docs_geo.count()
    assert len({l for l, _ in got.values()}) > 2


def test_dbscan_min_pts_sweep(spark, docs_geo):
    """min_pts=2 makes every paired point core (pure CC of the ε-graph);
    a huge min_pts yields no clusters at all."""
    pdf = docs_geo.toPandas()
    got2 = {int(r.doc_id): (int(r.cluster), bool(r.is_core))
            for r in dbscan(docs_geo, EPS, 2).collect()}
    assert got2 == _np_dbscan(pdf, EPS, 2)
    assert all(c for _, c in got2.values())  # every member is core
    assert dbscan(docs_geo, EPS, 10 ** 6).count() == 0


def test_dbscan_geodetic_matches_numpy(spark, docs_geo):
    """Spherical DBSCAN over the lat/lon corpus mapping vs a NumPy
    replay with 2-dp-rounded haversine neighborhoods."""
    from pyspark.sql import functions as F

    from mbrngq_spark.operators.clustering import dbscan_geodetic
    from mbrngq_spark.operators.geodetic import np_haversine

    ll = docs_geo.select("doc_id", (F.col("y") * 1.8 - 90.0).alias("lat"),
                         (F.col("x") * 3.6 - 180.0).alias("lon"))
    EPS_M, MP = 900_000.0, 4
    got = {int(r.doc_id): (int(r.cluster), bool(r.is_core))
           for r in dbscan_geodetic(spark, ll, EPS_M, MP).collect()}

    pdf = ll.toPandas().sort_values("doc_id").reset_index(drop=True)
    lat, lon = pdf.lat.to_numpy(), pdf.lon.to_numpy()
    ids = pdf.doc_id.to_numpy()
    d = np.round(np_haversine(lat[:, None], lon[:, None],
                              lat[None, :], lon[None, :]), 2)
    nbr = d <= EPS_M
    core = nbr.sum(1) >= MP
    lbl = {int(ids[i]): int(ids[i]) for i in np.where(core)[0]}
    adj = nbr & core[:, None] & core[None, :]
    changed = True
    while changed:
        changed = False
        for i in np.where(core)[0]:
            m = min(lbl[int(ids[j])] for j in np.where(adj[i])[0])
            if m < lbl[int(ids[i])]:
                lbl[int(ids[i])] = m
                changed = True
    exp = {int(ids[i]): (lbl[int(ids[i])], True) for i in np.where(core)[0]}
    for i in np.where(~core)[0]:
        cn = [lbl[int(ids[j])] for j in np.where(nbr[i] & core)[0]]
        if cn:
            exp[int(ids[i])] = (min(cn), False)
    assert got == exp
    assert 0 < len(got) and len({c for c, _ in got.values()}) > 1


def test_dbscan_min_pts_one_keeps_isolated_points(spark, docs_geo):
    """min_pts=1: a point's closed ε-ball holds the point itself, so every
    point is core and one with no ε-neighbour is its own cluster."""
    eps = 2.0      # leaves most fixture points without an ε-neighbour
    pdf = docs_geo.toPandas()
    xy = pdf[["x", "y"]].to_numpy()
    deg = (np.sqrt(((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1))
           <= eps).sum(1)
    assert (deg == 1).any() and (deg > 1).any()
    got = {int(r.doc_id): (int(r.cluster), bool(r.is_core))
           for r in dbscan(docs_geo, eps, 1).collect()}
    assert got == _np_dbscan(pdf, eps, 1)
    assert len(got) == len(pdf)


def test_dbscan_geodetic_min_pts_one_keeps_isolated_points(spark):
    from mbrngq_spark.operators.clustering import dbscan_geodetic

    ll = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3], "lat": [10.0, 10.001, -40.0],
        "lon": [20.0, 20.001, 100.0]}))
    got = {(r.doc_id, r.cluster, r.is_core)
           for r in dbscan_geodetic(spark, ll, 1000.0, 1).collect()}
    assert got == {(1, 1, True), (2, 1, True), (3, 3, True)}
