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


def test_vectorized_planner_equals_scalar_search(spark):
    """The batched lock-step binary search must produce the identical
    (query_id, cell, radius) plan as the per-query scalar search, across
    resolutions, k values, and a max_dist cap."""
    import numpy as np
    import pandas as pd

    from mbrngq_spark.config import DEFAULT as cfg
    from mbrngq_spark.operators.knn import plan_candidate_cells

    rng = np.random.default_rng(17)
    for res, k, cap in [(4, 5, None), (5, 12, None), (6, 3, 7.5),
                        (3, 50, None)]:
        n = 1 << res
        n_cells = rng.integers(10, n * n // 2)
        cells = rng.choice(n * n, size=n_cells, replace=False)
        # spread_bits-free synthetic cells: any int64 < 4^res is a valid
        # morton cell at this res
        stats = pd.DataFrame({"cell": cells.astype(np.int64),
                              "n": rng.integers(1, 9, n_cells)})
        queries = pd.DataFrame({
            "query_id": np.arange(40),
            "qx": rng.uniform(cfg.min_x - 5, cfg.min_x + cfg.width + 5, 40),
            "qy": rng.uniform(cfg.min_y - 5, cfg.min_y + cfg.height + 5, 40),
        })
        vec = plan_candidate_cells(stats, queries, k, res, cfg,
                                   max_dist=cap)
        ref = plan_candidate_cells(stats, queries, k, res, cfg,
                                   max_dist=cap, use_scalar_search=True)
        pd.testing.assert_frame_equal(
            vec.sort_values(["query_id", "cell"]).reset_index(drop=True),
            ref.sort_values(["query_id", "cell"]).reset_index(drop=True))
