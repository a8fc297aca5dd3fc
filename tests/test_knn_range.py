"""kNN + range query vs pandas brute force on real testdata documents
(derived geometry) — the engine's minimum end-to-end slice (SURVEY.md §7.3)."""

import numpy as np
import pandas as pd
import pytest

from mbrngq_spark.functions import derive
from mbrngq_spark.operators import knn as knn_op
from mbrngq_spark.operators.range_query import range_query
from tests.conftest import SF_DIR

QUERIES = pd.DataFrame({
    "query_id": [0, 1, 2, 3, 4],
    "qx": [11.5, 80.25, 50.0, 3.125, 97.5],
    "qy": [23.25, 14.5, 50.0, 96.875, 2.5],
})


@pytest.fixture(scope="module")
def docs_geo(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return derive.with_geometry(docs).select("doc_id", "x", "y", "category")


@pytest.fixture(scope="module")
def docs_pdf(docs_geo):
    return docs_geo.toPandas()


@pytest.mark.parametrize("k", [1, 7, 25])
def test_knn_matches_bruteforce(spark, docs_geo, docs_pdf, k):
    got = (knn_op.knn_join(spark, docs_geo, QUERIES, k=k)
           .orderBy("query_id", "rank").toPandas())
    for _, q in QUERIES.iterrows():
        d = np.sqrt((docs_pdf.x - q.qx) ** 2 + (docs_pdf.y - q.qy) ** 2)
        exp = (docs_pdf.assign(dist=d)
               .sort_values(["dist", "doc_id"]).head(k))
        sub = got[got.query_id == q.query_id]
        assert sub.doc_id.tolist() == exp.doc_id.tolist()
        np.testing.assert_allclose(sub.dist.to_numpy(), exp.dist.to_numpy(),
                                   rtol=0, atol=1e-12)


@pytest.mark.parametrize("cap", [3.0, 6.0, 150.0])
def test_knn_radius_cap(spark, docs_geo, docs_pdf, cap):
    """RTree.Nearest(p, furthestDistance) semantics (RTree.cs:454-474):
    only answers within the cap, possibly fewer than k per query."""
    k = 10
    got = (knn_op.knn_join(spark, docs_geo, QUERIES, k=k, max_dist=cap)
           .orderBy("query_id", "rank").toPandas())
    assert (got.dist <= cap).all()
    for _, q in QUERIES.iterrows():
        d = np.sqrt((docs_pdf.x - q.qx) ** 2 + (docs_pdf.y - q.qy) ** 2)
        exp = (docs_pdf.assign(dist=d)[lambda t: t.dist <= cap]
               .sort_values(["dist", "doc_id"]).head(k))
        sub = got[got.query_id == q.query_id]
        assert sub.doc_id.tolist() == exp.doc_id.tolist()


def test_knn_cap_with_sparse_population(spark, docs_geo, docs_pdf):
    # k > population AND a cap: the planner's total<k branch must still prune
    docs_small = docs_geo.limit(0).unionByName(docs_geo.filter("doc_id < 6"))
    pdf = docs_small.toPandas()
    cap = 40.0
    got = knn_op.knn_join(spark, docs_small, QUERIES, k=50,
                          max_dist=cap).toPandas()
    for _, q in QUERIES.iterrows():
        d = np.sqrt((pdf.x - q.qx) ** 2 + (pdf.y - q.qy) ** 2)
        exp = pdf.assign(dist=d)[lambda t: t.dist <= cap] \
            .sort_values(["dist", "doc_id"])
        sub = got[got.query_id == q.query_id].sort_values("rank")
        assert sub.doc_id.tolist() == exp.doc_id.tolist()


def test_knn_distributed_queries_match_pandas_mode(spark, docs_geo):
    """Large-Q path: queries as a Spark DataFrame (planner inside
    mapInPandas, broadcast stats) must give identical results to the
    driver-planned pandas path."""
    from mbrngq_spark.sources.synth import query_points
    q_df = query_points(spark, 300)
    q_pdf = q_df.toPandas()
    a = (knn_op.knn_join(spark, docs_geo, q_pdf, k=7)
         .orderBy("query_id", "rank").toPandas())
    b = (knn_op.knn_join(spark, docs_geo, q_df.repartition(8), k=7)
         .orderBy("query_id", "rank").toPandas())
    assert a.doc_id.tolist() == b.doc_id.tolist()
    assert a.query_id.tolist() == b.query_id.tolist()
    np.testing.assert_allclose(a.dist.to_numpy(), b.dist.to_numpy(),
                               rtol=0, atol=0)


def test_knn_keep_ties_rank_semantics(spark, docs_geo):
    # rank() variant must return >= row_number() variant rows and contain them
    a = knn_op.knn_join(spark, docs_geo, QUERIES, k=5, keep_ties=False).toPandas()
    b = knn_op.knn_join(spark, docs_geo, QUERIES, k=5, keep_ties=True).toPandas()
    assert len(b) >= len(a)
    assert set(map(tuple, a[["query_id", "doc_id"]].values)) <= \
           set(map(tuple, b[["query_id", "doc_id"]].values))


def test_knn_keep_ties_keeps_every_co_minimal_doc(spark):
    """keep_ties (RTree.Nearest keeps all co-minimal answers,
    RTree.cs:2440-2443): four docs at distance 5 from the query, k=1 →
    all four at rank 1, for pandas and for DataFrame queries."""
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5, 6],
        "x": [55.0, 45.0, 50.0, 50.0, 60.0, 10.0],
        "y": [50.0, 50.0, 55.0, 45.0, 60.0, 10.0],
        "category": [0, 1, 2, 0, 1, 2]}))
    q = pd.DataFrame({"query_id": [0], "qx": [50.0], "qy": [50.0]})
    for queries in (q, spark.createDataFrame(q)):
        got = knn_op.knn_join(spark, docs, queries, k=1,
                              keep_ties=True).toPandas()
        assert sorted(got["doc_id"]) == [1, 2, 3, 4]
        assert (got["rank"] == 1).all() and (got["dist"] == 5.0).all()


RECTS = pd.DataFrame({
    "rect_id": [0, 1, 2],
    "xmin": [10.0, 0.0, 90.0], "ymin": [10.0, 0.0, 90.0],
    "xmax": [30.0, 100.0, 100.0], "ymax": [25.0, 5.0, 100.0],
})


def test_range_query_matches_bruteforce(spark, docs_geo, docs_pdf):
    got = range_query(spark, docs_geo, RECTS).toPandas()
    for _, r in RECTS.iterrows():
        exp = docs_pdf[(docs_pdf.x >= r.xmin) & (docs_pdf.x <= r.xmax) &
                       (docs_pdf.y >= r.ymin) & (docs_pdf.y <= r.ymax)]
        sub = got[got.rect_id == r.rect_id]
        assert sorted(sub.doc_id) == sorted(exp.doc_id)


def test_range_query_empty_rects_returns_no_rows(spark, docs_geo):
    assert range_query(spark, docs_geo, RECTS.iloc[:0]).count() == 0


@pytest.mark.parametrize("res", [3, 6])
def test_range_cover_equals_numpy_twin(spark, res):
    """The Column box cover range_query joins on == its NumPy twin
    covering_cells (the cover perfbench's cells_per_rect probe counts),
    including out-of-domain, straddling, zero-width and inverted rects."""
    from mbrngq_spark import grid
    from mbrngq_spark import harness as H
    from mbrngq_spark.operators.range_query import covering_cells, rects_df

    odd = pd.DataFrame({
        "rect_id": [10, 11, 12, 13, 14, 15, 16],
        "xmin": [120.0, -5.0, 33.0, 60.0, 10.0, -40.0, 0.0],
        "ymin": [20.0, 40.0, 10.0, 10.0, 70.0, -40.0, 0.0],
        "xmax": [130.0, 3.0, 33.0, 40.0, 20.0, 140.0, 100.0],
        "ymax": [30.0, 45.0, 50.0, 20.0, 60.0, 140.0, 100.0],
    })
    rects = pd.concat([H.rects_pdf(), odd], ignore_index=True)
    got = (grid.coord_box_cover(rects_df(spark, rects), "xmin", "ymin",
                                "xmax", "ymax", res)
           .select("rect_id", "cell").toPandas())
    exp = covering_cells(rects, res)
    assert len(got) == len(exp)
    assert set(map(tuple, got.values)) == set(map(tuple, exp.values))
    assert set(exp.rect_id) == set(rects.rect_id) - {13, 14}  # inverted


@pytest.mark.parametrize("eps", [0.5, 2.0, 9.0])
def test_distance_join_matches_bruteforce(spark, docs_geo, docs_pdf, eps):
    """Grid ε-join == quadratic filter; each unordered pair exactly once."""
    from mbrngq_spark.operators.distance_join import distance_join
    got = (distance_join(docs_geo, docs_geo, eps=eps, self_join=True)
           .toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True))
    a = docs_pdf.rename(columns={"doc_id": "a_id"})
    m = a.merge(docs_pdf.rename(columns={"doc_id": "b_id"}), how="cross",
                suffixes=("_a", "_b"))
    m = m[m.a_id < m.b_id]
    d = np.sqrt((m.x_a - m.x_b) ** 2 + (m.y_a - m.y_b) ** 2)
    exp = m.assign(dist=d)[lambda t: t.dist <= eps] \
        .sort_values(["a_id", "b_id"]).reset_index(drop=True)
    assert got[["a_id", "b_id"]].values.tolist() == \
        exp[["a_id", "b_id"]].values.tolist()
    assert len(got) == len(got.drop_duplicates(["a_id", "b_id"]))
    np.testing.assert_allclose(got.dist.to_numpy(), exp.dist.to_numpy(),
                               rtol=0, atol=1e-12)


def test_distance_join_two_tables(spark, docs_geo, docs_pdf):
    from mbrngq_spark.operators.distance_join import distance_join
    left = docs_geo.filter("doc_id < 100")
    right = docs_geo.filter("doc_id >= 100")
    got = distance_join(left, right, eps=3.0).toPandas()
    lp = docs_pdf[docs_pdf.doc_id < 100]
    rp = docs_pdf[docs_pdf.doc_id >= 100]
    m = (lp.rename(columns={"doc_id": "a_id"})
         .merge(rp.rename(columns={"doc_id": "b_id"}), how="cross",
                suffixes=("_a", "_b")))
    d = np.sqrt((m.x_a - m.x_b) ** 2 + (m.y_a - m.y_b) ** 2)
    exp = m.assign(dist=d)[lambda t: t.dist <= 3.0]
    assert (set(map(tuple, got[["a_id", "b_id"]].values))
            == set(map(tuple, exp[["a_id", "b_id"]].values)))


def test_knn_more_than_population(spark, docs_geo, docs_pdf):
    # k greater than doc count → return all docs, ranked
    n = len(docs_pdf)
    got = knn_op.knn_join(spark, docs_geo, QUERIES.head(1), k=n + 10).toPandas()
    assert len(got) == n


def test_operators_accept_empty_corpus(spark):
    """A partition-pruned-to-nothing (or truly empty) corpus must yield
    empty results, not a planner crash (empty-pandas schema inference)."""
    import pandas as pd

    from mbrngq_spark.operators.knn import knn_join
    from mbrngq_spark.operators.ngq import nearest_group

    empty = spark.createDataFrame(
        [], "doc_id long, x double, y double, category int")
    q = pd.DataFrame({"query_id": [0], "qx": [10.0], "qy": [10.0]})
    assert knn_join(spark, empty, q, k=5).count() == 0
    assert nearest_group(spark, empty, q, k=3, L=8).count() == 0


def test_knn_distributed_mode_honors_radius_cap_and_ties(spark, docs_geo):
    """DataFrame-queries (distributed planner) must reproduce pandas-mode
    output under max_dist and keep_ties — the cap is applied inside the
    mapInPandas planner, not just the driver path."""
    import pandas as pd

    from mbrngq_spark.operators.knn import knn_join

    q = pd.DataFrame({"query_id": range(12),
                      "qx": [(i * 29 % 100) + 0.5 for i in range(12)],
                      "qy": [(i * 43 % 100) + 0.25 for i in range(12)]})
    for kw in ({"max_dist": 6.0}, {"keep_ties": True, "k": 1}):
        kw.setdefault("k", 5)
        a = (knn_join(spark, docs_geo, q, **kw)
             .orderBy("query_id", "rank", "doc_id").toPandas())
        b = (knn_join(spark, docs_geo, spark.createDataFrame(q).repartition(3),
                      **kw)
             .orderBy("query_id", "rank", "doc_id").toPandas())
        assert a["doc_id"].tolist() == b["doc_id"].tolist()
        assert len(a) == len(b)


def _reference_plan(stats, queries, k, res, cfg, cap):
    """The planar plan written without windows or batching: per query, the
    radius is the MAXDIST to the smallest k-covering square around its
    cell (a linear scan over half-widths; infinite below k docs), capped
    at ``cap``; the cells are every occupied cell with MINDIST ≤ radius;
    then the per-cell tightening: in (MINDIST, row-major) order, the
    smallest prefix covering ≥ k docs bounds the radius by its max
    per-cell MAXDIST."""
    from mbrngq_spark import geom, grid

    n = 1 << res
    wx, wy = cfg.width / n, cfg.height / n
    sub = stats.groupby("cell", as_index=False)["n"].sum()
    cells = sub["cell"].to_numpy(np.int64)
    cnt = sub["n"].to_numpy(np.int64)
    ix, iy = grid.np_compact_bits(cells), grid.np_compact_bits(cells >> 1)
    x0, y0 = cfg.min_x + ix * wx, cfg.min_y + iy * wy
    parts = [pd.DataFrame({"query_id": np.array([], np.int64),
                           "cell": np.array([], np.int64),
                           "radius": np.array([], np.float64)})]
    for qid, qx, qy in queries[["query_id", "qx", "qy"]].itertuples(
            index=False):
        cx = min(max(int((qx - cfg.min_x) / wx), 0), n - 1)
        cy = min(max(int((qy - cfg.min_y) / wy), 0), n - 1)
        radius = np.inf
        if cnt.sum() >= k:
            for h in range(n):
                bx0, by0 = max(cx - h, 0), max(cy - h, 0)
                bx1, by1 = min(cx + h, n - 1), min(cy + h, n - 1)
                if cnt[(ix >= bx0) & (ix <= bx1) & (iy >= by0)
                       & (iy <= by1)].sum() >= k:
                    break
            radius = float(geom.np_maxdist_point_rect(
                qx, qy, cfg.min_x + bx0 * wx, cfg.min_y + by0 * wy,
                cfg.min_x + (bx1 + 1) * wx, cfg.min_y + (by1 + 1) * wy))
        if cap is not None:
            radius = min(radius, cap)
        md = geom.np_mindist_point_rect(qx, qy, x0, y0, x0 + wx, y0 + wy)
        keep = md <= radius
        if cnt[keep].sum() >= k:
            idx = np.nonzero(keep)[0]
            order = idx[np.lexsort((ix[idx], iy[idx], md[idx]))]
            j = int(np.searchsorted(np.cumsum(cnt[order]), k))
            far = geom.np_maxdist_point_rect(
                qx, qy, x0[order[:j + 1]], y0[order[:j + 1]],
                x0[order[:j + 1]] + wx, y0[order[:j + 1]] + wy).max()
            radius = min(radius, float(far))
            keep = md <= radius
        parts.append(pd.DataFrame({
            "query_id": np.full(int(keep.sum()), qid, np.int64),
            "cell": cells[keep], "radius": np.full(int(keep.sum()), radius)}))
    return pd.concat(parts, ignore_index=True)


def _sorted(plan):
    return plan.sort_values(["query_id", "cell"]).reset_index(drop=True)


def _planner_cases():
    """(name, stats, queries, k, res, cap, cfg) cases for the planner
    tests."""
    from mbrngq_spark import grid
    from mbrngq_spark.config import DEFAULT as cfg, EngineConfig

    rng = np.random.default_rng(17)

    def queries(m, pad):
        return pd.DataFrame({
            "query_id": np.arange(m, dtype=np.int64),
            "qx": rng.uniform(cfg.min_x - pad, cfg.min_x + cfg.width + pad, m),
            "qy": rng.uniform(cfg.min_y - pad, cfg.min_y + cfg.height + pad,
                              m)})

    for res, k, cap in [(4, 5, None), (5, 12, None), (6, 3, 7.5),
                        (3, 50, None)]:
        n = 1 << res
        n_cells = rng.integers(10, n * n // 2)
        # any int64 < 4^res is a valid Morton cell at this res
        cells = rng.choice(n * n, size=n_cells, replace=False)
        stats = pd.DataFrame({"cell": cells.astype(np.int64),
                              "n": rng.integers(1, 9, n_cells)})
        yield f"random-res{res}", stats, queries(40, 5), k, res, cap, cfg
    # one dense island in a corner: far queries' windows span most of the
    # grid, per category as in NGQ
    res = 7
    xs = np.clip(rng.normal(12, 4, 3000), 0, 127).astype(np.int64)
    ys = np.clip(rng.normal(20, 4, 3000), 0, 127).astype(np.int64)
    island = pd.DataFrame({
        "cell": grid.np_spread_bits(xs) | (grid.np_spread_bits(ys) << 1),
        "category": rng.integers(0, 3, 3000)}).value_counts().rename("n")
    island = island.reset_index()
    yield "clustered", island, queries(40, 0), 161, res, None, cfg
    yield "clustered-cap", island, queries(40, 0), 32, res, 20.0, cfg
    small = pd.DataFrame({"cell": np.array([3, 9, 40], np.int64),
                          "n": np.array([2, 1, 4])})
    yield "k-over-corpus", small, queries(40, 5), 8, 4, None, cfg
    yield "k-over-corpus-cap", small, queries(40, 5), 8, 4, 30.0, cfg
    yield "cap-excludes-all", small, queries(40, 5), 3, 4, -1.0, cfg
    empty = pd.DataFrame({"cell": np.array([], np.int64),
                          "n": np.array([], np.int64)})
    yield "empty-stats", empty, queries(40, 5), 3, 4, None, cfg
    yield "empty-stats-cap", empty, queries(40, 5), 3, 4, 5.0, cfg
    yield "empty-queries", small, queries(0, 0), 3, 4, None, cfg
    yield "out-of-domain", island, queries(40, 60), 10, res, None, cfg
    # 4×2 cells: q sits 0.5 from its cell's right and top edges, so both
    # neighbours tie on MINDIST with different MAXDISTs, and only the
    # (MINDIST, row-major) order decides which one the prefix takes
    wide = EngineConfig(max_x=64.0, max_y=32.0)
    ixs, iys = np.meshgrid(np.arange(16), np.arange(16))
    lattice = pd.DataFrame({
        "cell": grid.np_spread_bits(ixs.ravel())
        | (grid.np_spread_bits(iys.ravel()) << 1),
        "n": rng.integers(1, 3, 256)})
    cx, cy = rng.integers(1, 14, 40), rng.integers(1, 14, 40)
    ties = pd.DataFrame({"query_id": np.arange(40, dtype=np.int64),
                         "qx": cx * 4.0 + 3.5, "qy": cy * 2.0 + 1.5})
    for k in (2, 3, 4):
        yield f"mindist-ties-k{k}", lattice, ties, k, 4, None, wide


def test_planner_equals_bruteforce_reference():
    """The planner's one window stage yields exactly the plan of the
    window-free reference above: out-of-domain queries, k past the corpus
    (infinite radius), caps (one excluding every cell), empty stats,
    empty queries and MINDIST ties at the prefix boundary included."""
    from mbrngq_spark.operators.knn import plan_candidate_cells

    for name, stats, queries, k, res, cap, cfg in _planner_cases():
        got = plan_candidate_cells(stats, queries, k, res, cfg, max_dist=cap)
        ref = _reference_plan(stats, queries, k, res, cfg, cap)
        pd.testing.assert_frame_equal(_sorted(got), _sorted(ref),
                                      check_exact=True, obj=name)
        if name == "clustered":     # most windows are wider than 16 cells
            wx = cfg.width / (1 << res)
            assert (got.groupby("query_id")["radius"].first() / wx
                    > 8).mean() > 0.5
        if name in ("cap-excludes-all", "empty-stats", "empty-stats-cap",
                    "empty-queries"):
            assert got.empty


def test_planner_chunks_do_not_change_the_plan(monkeypatch):
    """Chunking the window stage by its entry budget leaves the plan
    exactly as one chunk plans it, down to row order — with chunks of 3
    queries (the last holding one) and of one query each."""
    from mbrngq_spark.operators import knn

    for name, stats, queries, k, res, cap, cfg in _planner_cases():
        if len(queries) != 40:
            continue
        whole = knn.plan_candidate_cells(stats, queries, k, res, cfg, cap)
        per_query = max(stats["cell"].nunique(), 1 << res)
        for chunk in (3, 1):
            monkeypatch.setattr(knn, "_PLAN_ENTRIES", chunk * per_query)
            got = knn.plan_candidate_cells(stats, queries, k, res, cfg, cap)
            pd.testing.assert_frame_equal(got, whole, check_exact=True,
                                          obj=f"{name}, chunk {chunk}")
        monkeypatch.undo()
