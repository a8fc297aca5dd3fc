"""Checkpoint / lineage / resume (north_rule): interrupted runs resume from
the last committed unit; lineage checksums audit clean; resume is idempotent."""

import pytest
from pyspark.sql import functions as F

from mbrngq_spark.plans.checkpoint import (audit_lineage, committed_units,
                                           run_checkpointed)
from mbrngq_spark.sources.synth import documents_spans, with_geometry_spans


@pytest.fixture(scope="module")
def docs(spark):
    return with_geometry_spans(documents_spans(spark, 1000)).cache()


def _process(docs):
    def fn(unit):
        return docs.filter(F.col("category") == unit) \
                   .withColumn("x2", F.col("x") * 2)
    return fn


def test_crash_resume_idempotent(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    units = [0, 1, 2]

    # run 1 crashes after writing unit 1's data but BEFORE its commit row
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_checkpointed(spark, "r1", units, _process(docs), out, ckpt,
                         fail_on=lambda u: u == 1)
    assert committed_units(spark, ckpt, "r1") == {0}

    # resume: unit 0 skipped, units 1 and 2 processed (1 is rewritten)
    summary = run_checkpointed(spark, "r1", units, _process(docs), out, ckpt)
    assert summary == {"attempted": 2, "skipped": 1, "total": 3}
    assert committed_units(spark, ckpt, "r1") == {0, 1, 2}

    # full output equals a direct run
    got = spark.read.parquet(f"{out}/unit=*").count()
    assert got == docs.count()

    # second resume is a no-op
    summary = run_checkpointed(spark, "r1", units, _process(docs), out, ckpt)
    assert summary == {"attempted": 0, "skipped": 3, "total": 3}

    # lineage audit: recorded checksums match re-hashed data
    audit = audit_lineage(spark, out, ckpt, "r1").toPandas()
    assert (audit.recorded == audit.actual).all()
    assert (audit.n_recorded == audit.n_actual).all()


def test_runs_are_isolated(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_checkpointed(spark, "a", [0], _process(docs), out, ckpt)
    assert committed_units(spark, ckpt, "a") == {0}
    assert committed_units(spark, ckpt, "b") == set()


def test_committed_units_raises_on_unreadable_log(spark, tmp_path):
    """Only a MISSING checkpoint table reads as "nothing committed"; a
    corrupt one must raise instead of silently re-running every unit."""
    assert committed_units(spark, str(tmp_path / "absent"), "r1") == set()
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "part-0.parquet").write_text("not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        committed_units(spark, str(ckpt), "r1")
