"""Incremental index maintenance (SURVEY.md I1 insert / I5 delete) and the
string-id NGQ path (input_hint: doc_id is a string)."""

import pytest
from pyspark.sql import functions as F

from mbrngq_spark.index import IndexLayout, build_index, write_index
from mbrngq_spark.index_ops import delete_docs, insert_docs, refresh_stats
from mbrngq_spark.operators.ngq import nearest_group
from mbrngq_spark.oracle import ngq_bruteforce
from mbrngq_spark.sources.synth import documents_spans, with_geometry_spans

import pandas as pd


@pytest.fixture()
def index_path(spark, tmp_path):
    docs = with_geometry_spans(documents_spans(spark, 1500)) \
        .withColumn("doc_id", F.substring("doc_id", 5, 8).cast("long"))
    indexed, _ = build_index(docs, IndexLayout())
    path = str(tmp_path / "idx")
    write_index(indexed, path)
    return path


def test_insert_then_delete_roundtrip(spark, index_path):
    n0 = spark.read.parquet(index_path).count()

    new = with_geometry_spans(documents_spans(spark, 1800)) \
        .withColumn("doc_id", F.substring("doc_id", 5, 8).cast("long")) \
        .filter(F.col("doc_id") >= 1500)
    added = insert_docs(spark, index_path, new)
    assert added == 300
    assert spark.read.parquet(index_path).count() == n0 + 300

    # delete a mixed batch (some original, some inserted, some nonexistent)
    ids = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2, 1500, 1799, 999_999]}))
    deleted = delete_docs(spark, index_path, ids)
    assert deleted == 5
    back = spark.read.parquet(index_path)
    assert back.count() == n0 + 300 - 5
    assert back.filter(F.col("doc_id").isin([0, 1, 2, 1500, 1799])).count() == 0
    # untouched docs still present and spans intact
    from mbrngq_spark.index import verify_span_invariant
    assert verify_span_invariant(back) == 0

    # stats refresh equals recount
    stats = refresh_stats(spark, index_path)
    assert stats.agg(F.sum("n")).collect()[0][0] == n0 + 300 - 5


def test_writes_leave_partition_overwrite_conf_alone(spark, index_path,
                                                    tmp_path, monkeypatch):
    """Dynamic partition overwrite is a per-write option: inserting,
    deleting and appending to a RollupStore never set the session-wide
    partitionOverwriteMode, which would race any concurrent writer on
    the same session."""
    from pyspark.sql.conf import RuntimeConfig

    from mbrngq_spark.plans.rollup_store import RollupStore

    keys = []
    real_set = RuntimeConfig.set

    def record(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    docs = with_geometry_spans(documents_spans(spark, 1600)) \
        .withColumn("doc_id", F.substring("doc_id", 5, 8).cast("long"))
    new = docs.filter(F.col("doc_id") >= 1500)
    assert insert_docs(spark, index_path, new) == 100
    ids = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1500]}))
    assert delete_docs(spark, index_path, ids) == 2
    store = RollupStore(spark, str(tmp_path / "rollup"))
    geo = docs.select("doc_id", "x", "y", "category")
    store.create(geo.filter(F.col("doc_id") < 1500))
    store.append(new.select("doc_id", "x", "y", "category"))
    assert store.read().filter(F.col("res") == 2) \
        .agg(F.sum("n_docs")).first()[0] == 1600
    assert not [k for k in keys if "partitionOverwriteMode" in k], keys


def test_delete_entire_partition(spark, index_path):
    """Deleting EVERY row of a coarse-cell partition must clear its files:
    dynamic partition overwrite alone leaves a fully-emptied partition's
    directory untouched (it is absent from the written data)."""
    idx = spark.read.parquet(index_path)
    # pick the smallest coarse cell and delete all of its docs
    cell = (idx.groupBy("cell_coarse").count()
            .orderBy("count", F.col("cell_coarse")).first())
    victims = idx.filter(F.col("cell_coarse") == cell.cell_coarse) \
        .select("doc_id")
    n_victims = victims.count()
    n0 = idx.count()
    deleted = delete_docs(spark, index_path, victims)
    assert deleted == n_victims
    back = spark.read.parquet(index_path)
    assert back.count() == n0 - n_victims
    assert back.filter(F.col("cell_coarse") == cell.cell_coarse).count() == 0


def test_delete_nonexistent_is_noop(spark, index_path):
    n0 = spark.read.parquet(index_path).count()
    ids = spark.createDataFrame(pd.DataFrame({"doc_id": [777_777]}))
    assert delete_docs(spark, index_path, ids) == 0
    assert spark.read.parquet(index_path).count() == n0


QUERIES = pd.DataFrame({
    "query_id": [0, 1, 2],
    "qx": [20.0, 75.5, 50.25],
    "qy": [30.0, 10.0, 88.5],
})


def test_ngq_with_string_ids(spark):
    """input_hint contract: doc_id is a string — results must match the
    brute force under the same (score, id-tuple) tie order."""
    docs = with_geometry_spans(documents_spans(spark, 150)) \
        .select("doc_id", "x", "y", "category")
    got = (nearest_group(spark, docs, QUERIES, k=5, L=16)
           .orderBy("query_id", "group_rank").toPandas())
    assert got["exact"].all()
    assert got["c0_id"].str.startswith("doc-").all()
    pdf = docs.toPandas()
    for _, q in QUERIES.iterrows():
        exp = ngq_bruteforce(pdf, q.qx, q.qy, m=3, k=5)
        sub = got[got.query_id == q.query_id].reset_index(drop=True)
        for c in range(3):
            assert sub[f"c{c}_id"].tolist() == exp[f"c{c}_id"].tolist()
