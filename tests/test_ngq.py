"""NGQ vs the exhaustive brute-force oracle (the reference's CheckNearGroup
semantics, RTree.cs:1478-1595). Uses a doc subset small enough for full
enumeration while keeping L-truncation ACTIVE (L < per-category count), so
the exactness bound is genuinely exercised."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.config import DEFAULT, EngineConfig
from mbrngq_spark.functions import derive
from mbrngq_spark.operators import ngq
from mbrngq_spark.operators.knn import planner_stats
from mbrngq_spark.operators.ngq import nearest_group
from mbrngq_spark.oracle import ngq_bruteforce
from tests.conftest import SF_DIR

QUERIES = pd.DataFrame({
    "query_id": [0, 1, 2, 3, 4, 5, 6, 7],
    "qx": [11.5, 80.25, 50.0, 3.125, 97.5, 25.0, 66.0, 42.75],
    "qy": [23.25, 14.5, 50.0, 96.875, 2.5, 75.0, 33.5, 58.125],
})


@pytest.fixture(scope="module")
def docs_geo(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # subset: brute force is O(prod per-category sizes)
    return (derive.with_geometry(docs)
            .filter(F.col("doc_id") < 150)
            .select("doc_id", "x", "y", "category"))


@pytest.fixture(scope="module")
def docs_pdf(docs_geo):
    return docs_geo.toPandas()


@pytest.mark.parametrize("k,L", [(1, 8), (10, 16), (10, 32)])
def test_ngq_matches_bruteforce(spark, docs_geo, docs_pdf, k, L):
    cfg = EngineConfig(ngq_candidates=L)
    got = (nearest_group(spark, docs_geo, QUERIES, k=k, L=L, cfg=cfg)
           .orderBy("query_id", "group_rank").toPandas())
    assert got["exact"].all(), "L-truncation bound violated — raise L"
    for _, q in QUERIES.iterrows():
        exp = ngq_bruteforce(docs_pdf, q.qx, q.qy, m=3, k=k)
        sub = got[got.query_id == q.query_id].reset_index(drop=True)
        assert len(sub) == len(exp)
        for c in range(3):
            assert sub[f"c{c}_id"].tolist() == exp[f"c{c}_id"].tolist(), \
                f"query {q.query_id} members mismatch in category {c}"
        np.testing.assert_allclose(sub.min_dist.to_numpy(),
                                   exp.min_dist.to_numpy(), rtol=0, atol=1e-9)


def test_ngq_distributed_queries_match_pandas_mode(spark, docs_geo):
    """Spark-DataFrame queries (distributed planner + distributed
    escalation bookkeeping) must equal the pandas-mode output."""
    q_df = spark.createDataFrame(QUERIES)
    a = (nearest_group(spark, docs_geo, QUERIES, k=5, L=16)
         .orderBy("query_id", "group_rank").toPandas())
    b = (nearest_group(spark, docs_geo, q_df.repartition(4), k=5, L=16)
         .orderBy("query_id", "group_rank").toPandas())
    for c in ("query_id", "group_rank", "c0_id", "c1_id", "c2_id"):
        assert a[c].tolist() == b[c].tolist()
    np.testing.assert_allclose(a.min_dist.to_numpy(), b.min_dist.to_numpy(),
                               rtol=0, atol=0)


def test_certifying_L_distributed_matches_driver(spark, docs_geo):
    """The mapInPandas certifying-L (distributed escalation bookkeeping)
    must equal the driver-side NumPy computation on the same stats + bad
    set — it is the same kernel, batched behind a broadcast."""
    from mbrngq_spark.operators.knn import certifying_L, \
        certifying_L_distributed, planner_stats
    stats, res = planner_stats(docs_geo, None, 16)
    bad = pd.DataFrame({"query_id": [0, 1, 2],
                        "qx": [10.0, 55.0, 90.0],
                        "qy": [12.0, 48.0, 77.0],
                        "kth": [8.0, 3.0, 15.0]})
    exp = certifying_L(stats, bad, res)
    got = certifying_L_distributed(
        spark, stats, spark.createDataFrame(bad).repartition(2), res)
    assert got == exp


def test_ngq_distributed_escalation_with_tiny_L(spark, docs_geo):
    """L=2 forces round-1 bound failures, so the DataFrame-queries run
    exercises the distributed escalation (flag filters, a semi-join of
    the queries + mapInPandas certifying-L) end-to-end; both modes must
    converge to the same exact answers."""
    a = (nearest_group(spark, docs_geo, QUERIES, k=5, L=2)
         .orderBy("query_id", "group_rank").toPandas())
    b = (nearest_group(spark, docs_geo,
                       spark.createDataFrame(QUERIES).repartition(3),
                       k=5, L=2)
         .orderBy("query_id", "group_rank").toPandas())
    assert a["exact"].all() and b["exact"].all()
    for c in ("query_id", "group_rank", "c0_id", "c1_id", "c2_id"):
        assert a[c].tolist() == b[c].tolist()


@pytest.mark.parametrize("max_rounds", [1, 4])
def test_ngq_distributed_result_is_join_free(spark, docs_geo, max_rounds):
    """The DataFrame-query loop splits each checkpointed round on its
    per-query exact/capped flags, so the returned frame is a union of
    filtered round checkpoints: no join against a per-round key table
    whose pinned blocks the answer would keep alive."""
    out = nearest_group(spark, docs_geo, spark.createDataFrame(QUERIES),
                        k=5, L=2, max_rounds=max_rounds)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert out.count() == 5 * len(QUERIES)


@pytest.mark.parametrize("m", [2, 4, 5])
def test_ngq_parametric_m(spark, m):
    """Config.m is a free parameter in the reference (Config.cs:11) — the
    engine kernel must be generic over category count, not hardwired m=3."""
    cfg = EngineConfig(m=m)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs_geo = (derive.with_geometry(docs, cfg)
                .filter(F.col("doc_id") < 120)
                .select("doc_id", "x", "y", "category"))
    pdf = docs_geo.toPandas()
    assert set(pdf.category.unique()) == set(range(m))
    got = (nearest_group(spark, docs_geo, QUERIES.head(4), k=3, L=10, cfg=cfg)
           .orderBy("query_id", "group_rank").toPandas())
    assert got["exact"].all()
    for _, q in QUERIES.head(4).iterrows():
        exp = ngq_bruteforce(pdf, q.qx, q.qy, m=m, k=3)
        sub = got[got.query_id == q.query_id].reset_index(drop=True)
        assert len(sub) == len(exp)
        for c in range(m):
            assert sub[f"c{c}_id"].tolist() == exp[f"c{c}_id"].tolist()


def test_ngq_group_has_one_member_per_category(spark, docs_geo, docs_pdf):
    got = nearest_group(spark, docs_geo, QUERIES, k=5, L=16).toPandas()
    cat_of = dict(zip(docs_pdf.doc_id, docs_pdf.category))
    for c in range(3):
        assert got[f"c{c}_id"].map(cat_of).eq(c).all()


def test_ngq_score_formula_spot_check(spark, docs_geo, docs_pdf):
    # recompute one group's score by hand: innerDist + interDist
    got = nearest_group(spark, docs_geo, QUERIES.head(1), k=1, L=16).toPandas()
    row = got.iloc[0]
    pts = docs_pdf.set_index("doc_id")
    mem = [(pts.loc[row[f"c{c}_id"], "x"], pts.loc[row[f"c{c}_id"], "y"])
           for c in range(3)]
    q = QUERIES.iloc[0]
    inner = max(np.hypot(a[0] - b[0], a[1] - b[1])
                for i, a in enumerate(mem) for b in mem[i + 1:])
    inter = min(np.hypot(a[0] - q.qx, a[1] - q.qy) for a in mem)
    assert row.min_dist == pytest.approx(inner + inter, abs=1e-9)


@pytest.mark.parametrize("as_df", [False, True])
def test_ngq_rejects_max_rounds_below_one(spark, docs_geo, as_df):
    q = spark.createDataFrame(QUERIES) if as_df else QUERIES
    with pytest.raises(ValueError, match="max_rounds"):
        nearest_group(spark, docs_geo, q, k=5, L=16, max_rounds=0)


def _jobs_and_rows(spark, group, *args, **kw):
    """nearest_group's rows (pandas queries) and the Spark jobs they took."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = nearest_group(spark, *args, **kw).toPandas()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _forced(monkeypatch, value):
    monkeypatch.setattr(ngq, "_reaches_cap", lambda *a: value)


def test_ngq_cap_depth_round_on_islands(spark, monkeypatch):
    """On a gaussian_island corpus the occupancy bound proves the batch
    escalates from L to the refine budget's cap, so round 1 fetches the
    cap depth once: the rows equal the two-round path's, in fewer jobs."""
    from mbrngq_spark.sources.synth import documents_spans, query_points, \
        with_geometry_spans

    docs = (with_geometry_spans(documents_spans(spark, 6000),
                                distribution="gaussian_island")
            .withColumn("doc_id", F.substring("doc_id", 5, 8).cast("long"))
            .select("doc_id", "x", "y", "category")).cache()
    q = query_points(spark, 16).toPandas()
    stats, res = planner_stats(docs, None, 32)
    assert ngq._reaches_cap(stats, q, 32, res, 161, DEFAULT)
    got, jobs = _jobs_and_rows(spark, "ngq-cap-round", docs, q, k=10, L=32)
    _forced(monkeypatch, False)
    exp, exp_jobs = _jobs_and_rows(spark, "ngq-two-rounds", docs, q, k=10,
                                   L=32)
    docs.unpersist()
    assert not exp["exact"].all(), "the batch should escalate"
    pd.testing.assert_frame_equal(got, exp)
    assert jobs < exp_jobs


@pytest.mark.parametrize("L,k,budget,first_step", [
    (16, 5, 1 << 22, None),   # round 1 certifies: the cap rows go unused
    (6, 3, 1 << 10, 10),      # some queries escalate, straight to the cap
    (2, 5, 1 << 30, 23),      # a miss: _next_L stops short of the cap
])
def test_ngq_forced_cap_round_keeps_rows(spark, docs_geo, monkeypatch, L, k,
                                         budget, first_step):
    """Forced on where the bound would not fire, the cap-depth round
    changes no row: the loop still escalates from the depth-L answers,
    the cap round answers only the queries that escalated, and a round
    short of the cap (per_cap 1023 here) runs as before."""
    steps = []
    next_L = ngq._next_L
    monkeypatch.setattr(ngq, "_next_L",
                        lambda *a: steps.append(next_L(*a)) or steps[-1])
    _forced(monkeypatch, True)
    got = nearest_group(spark, docs_geo, QUERIES, k=k, L=L,
                        refine_budget=budget).toPandas()
    assert (steps[:1] or [None])[0] == first_step
    _forced(monkeypatch, False)
    exp = nearest_group(spark, docs_geo, QUERIES, k=k, L=L,
                        refine_budget=budget).toPandas()
    pd.testing.assert_frame_equal(got, exp)


def test_ngq_single_round_never_consults_the_bound(spark, docs_geo,
                                                   monkeypatch):
    def fail(*a):
        raise AssertionError("_reaches_cap consulted with max_rounds=1")
    monkeypatch.setattr(ngq, "_reaches_cap", fail)
    out = nearest_group(spark, docs_geo, QUERIES, k=5, L=2, max_rounds=1)
    assert out.count() == 5 * len(QUERIES)
