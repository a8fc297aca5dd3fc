"""Planner-stats memo (knn.cell_counts): one stats scan per persisted
corpus, read by every later kNN, NGQ and geodetic batch; a frame without
a materialized cache entry (a stored index read from parquet) is
rescanned on every call, so its answers follow every write."""

import os
import subprocess
import sys
import textwrap
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.index import IndexLayout, build_index, read_index, \
    write_index
from mbrngq_spark.index_ops import delete_docs, insert_docs
from mbrngq_spark.operators.geodetic import geodetic_knn, \
    geodetic_nearest_group
from mbrngq_spark.operators.knn import knn_join, planner_stats
from mbrngq_spark.operators.ngq import nearest_group
from mbrngq_spark.oracle import knn_bruteforce, ngq_bruteforce
from mbrngq_spark.sources.synth import documents_spans, query_points, \
    with_geometry_spans

GEO_QUERIES = pd.DataFrame({
    "query_id": np.arange(6),
    "qlat": [40.0, 35.5, 52.0, 0.0, 44.0, 89.0],
    "qlon": [10.0, -120.0, 179.5, 0.0, -179.9, 30.0]})


def _jobs(spark, group, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _memo(spark) -> dict:
    return spark.sparkContext.__dict__["_mbrngq_statscache"][1]


def _planar(spark, n, dist="uniform"):
    return (with_geometry_spans(documents_spans(spark, n), distribution=dist)
            .withColumn("doc_id", F.substring("doc_id", 5, 8).cast("long")))


def _sorted(df: pd.DataFrame, *keys: str) -> pd.DataFrame:
    return df.sort_values(list(keys)).reset_index(drop=True)


PLANAR_CALLS = {
    "knn": lambda s, d, q: _sorted(knn_join(s, d, q, k=10).toPandas(),
                                   "query_id", "rank"),
    "ngq": lambda s, d, q: _sorted(
        nearest_group(s, d, q, k=10, L=32).toPandas(),
        "query_id", "group_rank"),
    "ngq_df": lambda s, d, q: _sorted(
        nearest_group(s, d, s.createDataFrame(q), k=10, L=32).toPandas(),
        "query_id", "group_rank"),
}


@pytest.mark.parametrize("dist", ["gaussian_island", "uniform"])
def test_memo_hit_keeps_rows_and_saves_the_stats_job(spark, dist):
    """On a persisted corpus the first call scans the stats and a repeat
    reads the memo: the same rows, one Spark job fewer. Each call kind
    starts on a fresh cache entry (unpersist + persist), so its first
    call is the scanning one."""
    docs = _planar(spark, 3000, dist).select("doc_id", "x", "y", "category")
    q = query_points(spark, 16).toPandas()
    for name, call in PLANAR_CALLS.items():
        docs.cache().count()
        first, jobs1 = _jobs(spark, f"memo-{dist}-{name}-1",
                             lambda: call(spark, docs, q))
        again, jobs2 = _jobs(spark, f"memo-{dist}-{name}-2",
                             lambda: call(spark, docs, q))
        docs.unpersist()
        assert len(first) == 10 * len(q)
        assert again.equals(first), name
        assert jobs2 == jobs1 - 1, (name, jobs1, jobs2)


def _geo_docs(spark, n=3000):
    rng = np.random.default_rng(5)
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(n),
        "lat": np.clip(rng.normal(40, 8, n), -90, 90),
        "lon": np.mod(rng.normal(0, 60, n) + 180, 360) - 180,
        "category": np.arange(n) % 3}))


def test_geodetic_calls_share_the_memo(spark):
    """geodetic_knn and geodetic_nearest_group read the same memo: a
    repeat returns the same rows in one Spark job fewer."""
    docs = _geo_docs(spark).cache()
    docs.count()
    calls = {
        "geo_knn": lambda: _sorted(
            geodetic_knn(spark, docs, GEO_QUERIES, k=7).toPandas(),
            "query_id", "rnk"),
        "geo_ngq": lambda: _sorted(
            geodetic_nearest_group(spark, docs, GEO_QUERIES, m=3, k=4,
                                   L=5, res=4).toPandas(),
            "query_id", "group_rank")}
    try:
        for name, call in calls.items():
            first, jobs1 = _jobs(spark, f"memo-{name}-1", call)
            again, jobs2 = _jobs(spark, f"memo-{name}-2", call)
            assert len(first) > 0
            assert again.equals(first), name
            assert jobs2 == jobs1 - 1, (name, jobs1, jobs2)
    finally:
        docs.unpersist()


def test_memo_entries_are_read_only(spark):
    """Entries stay unchanged after kNN, NGQ and geodetic calls, and
    after a caller mutates the stats it was handed."""
    planar = _planar(spark, 2000).select("doc_id", "x", "y", "category") \
        .cache()
    geo = _geo_docs(spark, 1500).cache()
    planar.count()
    geo.count()
    q = query_points(spark, 8).toPandas()

    def calls():
        knn_join(spark, planar, q, k=5).toPandas()
        nearest_group(spark, planar, q, k=5, L=16).toPandas()
        geodetic_knn(spark, geo, GEO_QUERIES, k=5).toPandas()
        geodetic_nearest_group(spark, geo, GEO_QUERIES, m=3, k=2, L=4,
                               res=4).toPandas()

    try:
        calls()
        snap = {key: st.copy() for key, st in _memo(spark).items()}
        assert len(snap) >= 3      # planar, geo per-cell, geo per-category
        calls()
        stats, res = planner_stats(planar, 8, 16)   # base res: no rollup
        stats["n"] *= 0
        memo = _memo(spark)
        for key, st in snap.items():
            assert memo[key].equals(st)
        again, _ = planner_stats(planar, 8, 16)
        assert again["n"].sum() == 2000
    finally:
        planar.unpersist()
        geo.unpersist()


def test_repersisted_corpus_is_rescanned(spark, tmp_path):
    """The memo serves only a frame that the CacheManager pins: after
    unpersist the stats are rescanned on every call, and a corpus whose
    source changed and that was persisted again is rescanned once, by
    its first call (here a lazy persist, materialized by that scan)."""
    path = str(tmp_path / "src")
    _planar(spark, 2000).select("doc_id", "x", "y", "category") \
        .write.parquet(path)
    docs = spark.read.parquet(path).cache()
    docs.count()
    (st1, res1), jobs1 = _jobs(spark, "rescan-1",
                               lambda: planner_stats(docs, None, 10))
    (st2, res2), jobs2 = _jobs(spark, "rescan-2",
                               lambda: planner_stats(docs, None, 10))
    assert jobs1 >= 1 and jobs2 == 0
    assert st2.equals(st1) and res2 == res1
    docs.unpersist()
    _, jobs3 = _jobs(spark, "rescan-3", lambda: planner_stats(docs, None, 10))
    assert jobs3 >= 1

    spark.read.parquet(path).filter(F.col("doc_id") % 2 == 0) \
        .write.mode("overwrite").parquet(path + "_even")
    spark.read.parquet(path + "_even").write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path).cache()
    try:
        (st4, _), jobs4 = _jobs(spark, "rescan-4",
                                lambda: planner_stats(docs, None, 10))
        (st5, _), jobs5 = _jobs(spark, "rescan-5",
                                lambda: planner_stats(docs, None, 10))
        assert jobs4 >= 1 and jobs5 == 0
        assert st4["n"].sum() == st5["n"].sum() == 1000 == docs.count()
    finally:
        docs.unpersist()


def _check_against_oracle(spark, path, q):
    docs = read_index(spark, path)
    pdf = docs.select("doc_id", "x", "y", "category").toPandas()
    knn = knn_join(spark, docs, q, k=5).toPandas()
    ngq = nearest_group(spark, docs, q, k=3, L=16).toPandas()
    assert ngq["exact"].all()
    for _, row in q.iterrows():
        got = knn[knn.query_id == row.query_id].sort_values("rank")
        exp = knn_bruteforce(pdf, row.qx, row.qy, 5)
        assert got["doc_id"].tolist() == exp["doc_id"].tolist()
        got = ngq[ngq.query_id == row.query_id].sort_values("group_rank")
        exp = ngq_bruteforce(pdf, row.qx, row.qy, m=3, k=3)
        for c in range(3):
            assert got[f"c{c}_id"].tolist() == exp[f"c{c}_id"].tolist()
    return len(pdf)


def test_stored_index_answers_stay_fresh_under_writes(spark, tmp_path):
    """kNN and NGQ over read_index(path) equal the brute-force oracle
    after insert_docs and after delete_docs: a stored index has no cache
    entry, so its planner stats are rescanned on every call."""
    docs = _planar(spark, 360)
    indexed, _ = build_index(docs.filter(F.col("doc_id") < 300),
                             IndexLayout())
    path = str(tmp_path / "idx")
    write_index(indexed, path)
    q = pd.DataFrame({"query_id": [0, 1, 2, 3],
                      "qx": [20.0, 75.5, 50.25, 2.0],
                      "qy": [30.0, 10.0, 88.5, 97.0]})
    assert _check_against_oracle(spark, path, q) == 300
    assert insert_docs(spark, path,
                       docs.filter(F.col("doc_id") >= 300)) == 60
    assert _check_against_oracle(spark, path, q) == 360
    # delete every query's 20 nearest docs: stale counts would still see
    # docs near the queries and plan radii too small to reach the rest
    victims = knn_join(spark, read_index(spark, path), q, k=20) \
        .select("doc_id").distinct().toPandas()
    assert delete_docs(spark, path, spark.createDataFrame(victims)) \
        == len(victims)
    assert _check_against_oracle(spark, path, q) == 360 - len(victims)


def test_memo_dies_with_the_spark_context():
    """The memo lives on the SparkContext object: a restarted context
    (whose RDD ids start again from 0) starts with no entries, and its
    first planner_stats call scans."""
    code = textwrap.dedent("""
        from mbrngq_spark.config import session
        from mbrngq_spark.operators.knn import planner_stats

        def first_calls():
            spark = session(app="memo-lifetime", cores=1,
                            shuffle_partitions=2)
            sc = spark.sparkContext
            assert "_mbrngq_statscache" not in sc.__dict__
            docs = spark.range(600).selectExpr(
                "id AS doc_id", "rand(1) * 100 AS x", "rand(2) * 100 AS y",
                "CAST(id % 3 AS INT) AS category").cache()
            docs.count()
            jobs = []
            for i in range(2):
                sc.setJobGroup(f"g{i}", "stats")
                planner_stats(docs, None, 10)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"g{i}")))
            assert jobs[0] >= 1 and jobs[1] == 0, jobs
            assert len(sc.__dict__["_mbrngq_statscache"][1]) == 1
            return spark

        first_calls().stop()
        first_calls().stop()
        print("memo-lifetime-ok")
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root, SPARK_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, timeout=600)
    assert "memo-lifetime-ok" in out.stdout, out.stderr[-3000:]


def test_memo_under_concurrent_callers(spark):
    """Threads racing on two persisted corpora (more threads than cores,
    a short switch interval) each get their own corpus's stats: a race
    may scan an entry twice, never hand out another entry."""
    corpora = [_planar(spark, n).select("doc_id", "x", "y", "category")
               .cache() for n in (1200, 1800)]
    expect = []
    for docs in corpora:
        docs.count()
        expect.append(planner_stats(docs, None, 10))
    conf = {k: spark.conf.get(k) for k in ("spark.sql.shuffle.partitions",
                                           "spark.sql.adaptive.enabled")}
    got, errors = [], []

    def worker(i):
        try:
            for _ in range(3):
                got.append((i % 2, planner_stats(corpora[i % 2], None, 10)))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(2 * (os.cpu_count() or 2) + 2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        # bounded_shuffle's session-global conf swap is not thread-safe
        # (ROADMAP direction 5): restore what racing swaps may leave
        for k, v in conf.items():
            spark.conf.set(k, v)
        for docs in corpora:
            docs.unpersist()
    assert not errors, errors
    assert len(got) == 3 * len(threads)
    for c, (stats, res) in got:
        assert res == expect[c][1] and stats.equals(expect[c][0])
