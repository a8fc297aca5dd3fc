"""Streaming + lineage integration of the sketches: batch≡stream
register equality, exactly-once state folds (SnapshotTable's (run, batch)
manifest check) under injected crash-replays and fresh-checkpoint
restarts, and the checkpointed per-unit metrics rollup."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.operators import sketch as S
from mbrngq_spark.plans.checkpoint import (rollup_unit_sketches,
                                           run_checkpointed)
from mbrngq_spark.plans.snapshots import SnapshotTable
from mbrngq_spark.streaming.sketch_stream import (hll_sketch_stream,
                                                  merge_sketch_into)

SRC_SCHEMA = "k string, item string"


def _pdf(batch: int, n: int = 120) -> pd.DataFrame:
    rows = [("a" if i % 3 else "b",
             hashlib.md5(f"it/{batch}/{i}".encode()).hexdigest()[:10])
            for i in range(n)]
    return pd.DataFrame(rows, columns=["k", "item"])


def test_stream_sketch_equals_batch(spark, tmp_path):
    """complete-mode streaming registers == batch registers on the same
    rows. State is bounded (≤ keys × 256) so no watermark is needed."""
    src = str(tmp_path / "src")
    frames = [_pdf(b) for b in range(4)]
    for pdf in frames:
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SRC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (hll_sketch_stream(stream, ["k"], "item")
         .writeStream.format("memory").queryName("hll_s")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["k"], r["register"]): r["rho"]
           for r in spark.sql("select * from hll_s").collect()}
    batch = spark.createDataFrame(pd.concat(frames), SRC_SCHEMA)
    exp = {(r["k"], r["register"]): r["rho"]
           for r in S.hll_sketch(batch, ["k"], "item").collect()}
    assert got == exp


def test_merge_sink_exactly_once_by_idempotence(spark, tmp_path):
    """Crash AFTER a batch is merged into the state table, BEFORE the
    stream checkpoint commits; the restart replays that batch, which the
    state's (run_id, batch_id) manifest turns into a no-op: the state
    must equal the batch sketch of all rows."""
    import pyspark.errors

    src = str(tmp_path / "src")
    frames = [_pdf(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"
    inner = merge_sketch_into(spark, state, ["k"], "item")

    def handle(df, bid):
        inner(df, bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")   # merged but never checkpointed
            raise RuntimeError("injected")

    def run():
        q = (spark.readStream.schema(SRC_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run()
    assert marker.exists()
    run()                            # replays the merged batch
    got = {(r["k"], r["register"]): r["rho"]
           for r in SnapshotTable(spark, state).read().collect()}
    batch = spark.createDataFrame(pd.concat(frames), SRC_SCHEMA)
    exp = {(r["k"], r["register"]): r["rho"]
           for r in S.hll_sketch(batch, ["k"], "item").collect()}
    assert got == exp


def test_checkpoint_unit_sketch_rollup(spark, tmp_path):
    """Per-unit metrics sketches roll up to the estimate of the whole
    run (merge == direct by the sketch algebra), including after a
    crash-resume, without re-reading unit data."""
    frames = {u: _pdf(u, 150) for u in range(3)}

    def process(u):
        return spark.createDataFrame(frames[u], SRC_SCHEMA)

    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    with pytest.raises(RuntimeError):
        run_checkpointed(spark, "r1", [0, 1, 2], process, outp, ckpt,
                         fail_on=lambda u: u == 1, sketch_item="item")
    stats = run_checkpointed(spark, "r1", [0, 1, 2], process, outp, ckpt,
                             sketch_item="item")
    assert stats["skipped"] == 1 and stats["attempted"] == 2
    est = rollup_unit_sketches(spark, outp, ckpt, "r1").collect()[0]
    allpdf = pd.concat(frames.values())
    direct = S.hll_estimate(
        S.hll_sketch(spark.createDataFrame(allpdf, SRC_SCHEMA)
                     .withColumn("key", F.lit("all")), ["key"], "item"),
        ["key"]).collect()[0]
    assert (est["n_registers"], est["estimate"]) == \
        (direct["n_registers"], direct["estimate"])
    exact = allpdf["item"].nunique()
    assert abs(est["estimate"] / exact - 1) < 0.12


def test_cm_stream_sketch_equals_batch(spark, tmp_path):
    """Streaming count-min counters == batch counters on the same rows
    (state bounded at keys × D × W)."""
    from mbrngq_spark.streaming.sketch_stream import cm_sketch_stream

    src = str(tmp_path / "src")
    frames = [_pdf(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SRC_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (cm_sketch_stream(stream, ["k"], "item")
         .writeStream.format("memory").queryName("cm_s")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["k"], r["row"], r["col"]): r["cnt"]
           for r in spark.sql("select * from cm_s").collect()}
    batch = spark.createDataFrame(pd.concat(frames), SRC_SCHEMA)
    exp = {(r["k"], r["row"], r["col"]): r["cnt"]
           for r in S.cm_sketch(batch, ["k"], "item").collect()}
    assert got == exp


def test_cm_merge_sink_exactly_once_by_path(spark, tmp_path):
    """CMS merge is SUM (not idempotent), so the crash-replay contract
    rests on the manifest id: the replayed batch is recognised as
    committed and skipped, and the state equals the batch sketch of all
    rows — double-counting would be caught as 2× counters."""
    import pyspark.errors
    from mbrngq_spark.streaming.sketch_stream import merge_cm_sketch_into

    src = str(tmp_path / "src")
    frames = [_pdf(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"
    inner = merge_cm_sketch_into(spark, state, ["k"], "item")

    def handle(df, bid):
        inner(df, bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")   # state folded, never checkpointed
            raise RuntimeError("injected")

    def run():
        q = (spark.readStream.schema(SRC_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run()
    assert marker.exists()
    run()                            # replays the written batch
    got = {(r["k"], r["row"], r["col"]): r["cnt"]
           for r in SnapshotTable(spark, state).read().collect()}
    batch = spark.createDataFrame(pd.concat(frames), SRC_SCHEMA)
    exp = {(r["k"], r["row"], r["col"]): r["cnt"]
           for r in S.cm_sketch(batch, ["k"], "item").collect()}
    assert got == exp


def test_kmv_merge_sink_exactly_once_by_idempotence(spark, tmp_path):
    """KMV bottom-k state: crash AFTER batch 1 merged, BEFORE the stream
    checkpoint commits; the restart replays the batch, a no-op by the
    manifest id, and the final state equals the batch sketch of ALL
    rows — the HLL exactly-once shape, carrying set-INTERSECTION
    capability the HLL state can't."""
    import pyspark.errors

    from mbrngq_spark.streaming.sketch_stream import merge_kmv_sketch_into

    src = str(tmp_path / "src")
    frames = [_pdf(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"
    inner = merge_kmv_sketch_into(spark, state, ["k"], "item")

    def handle(df, bid):
        inner(df, bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")
            raise RuntimeError("injected")

    def run():
        q = (spark.readStream.schema(SRC_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run()
    assert marker.exists()
    run()
    got = {(r["k"], r["rk"]): r["h"]
           for r in SnapshotTable(spark, state).read().collect()}
    batch = spark.createDataFrame(pd.concat(frames), SRC_SCHEMA)
    exp = {(r["k"], r["rk"]): r["h"]
           for r in S.kmv_sketch(batch, ["k"], "item").collect()}
    assert got == exp


def test_heatmap_merge_equals_batch_and_replay_safe(spark, tmp_path):
    """Streaming KDE heatmap: state summed across batches == the
    one-shot batch heatmap (quantize-before-sum associativity), and a
    crash-replayed batch does NOT double-count (manifest id)."""
    import pyspark.errors
    from mbrngq_spark.operators.tiles import tile_heatmap
    from mbrngq_spark.streaming.sketch_stream import merge_heatmap_into

    geo_schema = "doc_id long, x double, y double"

    def _geo(batch, n=100):
        return pd.DataFrame({
            "doc_id": range(batch * n, (batch + 1) * n),
            "x": [(i * 37 % 1000) / 10.0 for i in
                  range(batch * n, (batch + 1) * n)],
            "y": [(i * 61 % 1000) / 10.0 for i in
                  range(batch * n, (batch + 1) * n)]})

    src = str(tmp_path / "src")
    frames = [_geo(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, geo_schema).coalesce(1) \
            .write.mode("append").parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"
    inner = merge_heatmap_into(spark, state, h=10.0, res=4)

    def handle(df, bid):
        inner(df, bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")   # state folded, never checkpointed
            raise RuntimeError("injected crash")

    stream = (spark.readStream.schema(geo_schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(
            (pyspark.errors.exceptions.base.PySparkException, Exception)):
        q.awaitTermination(180)
    q2 = (spark.readStream.schema(geo_schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream.foreachBatch(handle)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)

    got = {(int(r.cell)): (int(r.n_docs), int(r.wq))
           for r in SnapshotTable(spark, state).read().collect()}
    batch_all = spark.createDataFrame(pd.concat(frames), geo_schema)
    exp = {(int(r.cell)): (int(r.n_docs), int(r.wq))
           for r in tile_heatmap(batch_all, 10.0, 4).collect()}
    assert got == exp


def test_pyramid_merge_equals_batch_and_replay_safe(spark, tmp_path):
    """Streaming cell-pyramid: state folded across batches == the
    one-shot batch pyramid (sum/bit_or associativity), surviving an
    injected crash between the state commit and checkpoint commit."""
    import pyspark.errors
    from mbrngq_spark.plans.rollup_store import pyramid_agg
    from mbrngq_spark.streaming.sketch_stream import merge_pyramid_into

    geo_schema = "doc_id long, x double, y double, category int"

    def _geo(batch, n=120):
        ids = range(batch * n, (batch + 1) * n)
        return pd.DataFrame({
            "doc_id": ids,
            "x": [(i * 37 % 1000) / 10.0 for i in ids],
            "y": [(i * 61 % 1000) / 10.0 for i in ids],
            "category": [i % 3 for i in ids]})

    src = str(tmp_path / "src")
    frames = [_geo(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, geo_schema).coalesce(1) \
            .write.mode("append").parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"
    inner = merge_pyramid_into(spark, state, levels=(2, 4))

    def handle(df, bid):
        inner(df, bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")
            raise RuntimeError("injected crash")

    stream = (spark.readStream.schema(geo_schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    with pytest.raises(
            (pyspark.errors.exceptions.base.PySparkException, Exception)):
        q.awaitTermination(180)
    q2 = (spark.readStream.schema(geo_schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .writeStream.foreachBatch(handle)
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)

    got = {(int(r.res), int(r.cell)): (int(r.n_docs), int(r.catmask))
           for r in SnapshotTable(spark, state).read().collect()}
    batch_all = spark.createDataFrame(pd.concat(frames), geo_schema)
    exp = {(int(r.res), int(r.cell)): (int(r.n_docs), int(r.catmask))
           for r in pyramid_agg(batch_all, (2, 4)).collect()}
    assert got == exp
    assert len(got) > 16


GEO_SCHEMA = ("doc_id long, item string, x double, y double, "
              "category int, ts timestamp")


def _geo_items(batch: int, n: int = 50) -> pd.DataFrame:
    ids = range(batch * n, (batch + 1) * n)
    return pd.DataFrame({
        "doc_id": ids,
        "item": [f"it-{i % 37}" for i in ids],
        "x": [(i * 37 % 1000) / 10.0 for i in ids],
        "y": [(i * 61 % 1000) / 10.0 for i in ids],
        "category": [i % 3 for i in ids],
        "ts": [pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=13 * i)
               for i in ids]})


def test_fresh_checkpoint_runs_fold_and_append_every_row(spark, tmp_path):
    """Two streams on DISTINCT checkpoints (each numbering its batches
    from 0) feed one count-min, one heatmap and one pyramid state and
    one query sink. Each run has its own streaming query id, so the
    second run's batch 0 and 1 commit instead of overwriting (or being
    skipped as replays of) the first run's: every state equals the batch
    sketch over ALL rows and the sink, which keeps only its current
    manifest, holds every row."""
    from mbrngq_spark.operators.asof import asof_join
    from mbrngq_spark.operators.tiles import tile_heatmap
    from mbrngq_spark.plans.rollup_store import pyramid_agg
    from mbrngq_spark.streaming.query_stream import enrich_asof_stream
    from mbrngq_spark.streaming.sketch_stream import (merge_cm_sketch_into,
                                                      merge_heatmap_into,
                                                      merge_pyramid_into)

    cm, heat, pyr, sink = (str(tmp_path / n)
                           for n in ("cm", "heat", "pyr", "sink"))
    handlers = [merge_cm_sketch_into(spark, cm, ["category"], "item"),
                merge_heatmap_into(spark, heat, h=10.0, res=4),
                merge_pyramid_into(spark, pyr, levels=(2, 4))]
    right = spark.createDataFrame(pd.DataFrame({
        "category": [0, 1, 2, 0, 1, 2],
        "ts": [pd.Timestamp("2024-03-01") + pd.Timedelta(seconds=s)
               for s in (0, 0, 0, 900, 1200, 1500)],
        "rid": range(6)}))

    def fold_all(df, bid):
        for h in handlers:
            h(df, bid)

    frames = []
    for run in range(2):
        src = str(tmp_path / f"src{run}")
        for b in (2 * run, 2 * run + 1):
            frames.append(_geo_items(b))
            spark.createDataFrame(frames[-1], GEO_SCHEMA).coalesce(1) \
                .write.mode("append").parquet(src)

        def stream():
            return (spark.readStream.schema(GEO_SCHEMA)
                    .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stream().writeStream.foreachBatch(fold_all)
             .option("checkpointLocation", str(tmp_path / f"ck{run}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        q2 = enrich_asof_stream(stream(), right, on="category",
                                out_path=sink,
                                checkpoint=str(tmp_path / f"cks{run}"),
                                trigger={"availableNow": True})
        q2.awaitTermination(180)

    batch_all = spark.createDataFrame(pd.concat(frames), GEO_SCHEMA)
    got_cm = {(r.category, r.row, r.col): r.cnt
              for r in SnapshotTable(spark, cm).read().collect()}
    exp_cm = {(r.category, r.row, r.col): r.cnt for r in
              S.cm_sketch(batch_all, ["category"], "item").collect()}
    assert got_cm == exp_cm
    assert sum(got_cm.values()) == 200 * S.CM_D
    got_h = {r.cell: (r.n_docs, r.wq, r.density)
             for r in SnapshotTable(spark, heat).read().collect()}
    exp_h = {r.cell: (r.n_docs, r.wq, r.density)
             for r in tile_heatmap(batch_all, 10.0, 4).collect()}
    assert got_h == exp_h
    got_p = {(r.res, r.cell): (r.n_docs, r.catmask)
             for r in SnapshotTable(spark, pyr).read().collect()}
    exp_p = {(r.res, r.cell): (r.n_docs, r.catmask)
             for r in pyramid_agg(batch_all, (2, 4)).collect()}
    assert got_p == exp_p
    out = SnapshotTable(spark, sink).read()
    assert len(SnapshotTable(spark, sink).history()) == 1  # one manifest
    assert out.count() == 200
    assert out.select("doc_id").distinct().count() == 200
    exp_out = {(r.doc_id, r.rid_r) for r in
               asof_join(batch_all, right, "category").collect()}
    assert {(r.doc_id, r.rid_r) for r in out.collect()} == exp_out


def test_crash_inside_fold_commit_is_exactly_once(spark, tmp_path,
                                                  monkeypatch):
    """Crash AFTER a fold's data files are written and BEFORE its manifest
    commits. The committed state is untouched (readers never list data
    directories), the restart replays the batch and folds it once, and
    the orphaned files are vacuumed by the next commit: the SUM state
    equals the batch sketch over all rows."""
    import os

    import pyspark.errors

    from mbrngq_spark.streaming.sketch_stream import merge_cm_sketch_into

    src = str(tmp_path / "src")
    frames = [_pdf(b) for b in range(3)]
    for pdf in frames:
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"
    commit = SnapshotTable._commit

    def crashing_commit(self, files, operation, schema=None):
        if self._pending_extra.get("batch_id") == 1 and not marker.exists():
            marker.write_text("x")   # fold written, manifest never made
            raise RuntimeError("injected crash before the manifest commit")
        return commit(self, files, operation, schema)

    monkeypatch.setattr(SnapshotTable, "_commit", crashing_commit)

    def run():
        q = (spark.readStream.schema(SRC_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream
             .foreachBatch(merge_cm_sketch_into(spark, state, ["k"], "item"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run()
    assert marker.exists()
    t = SnapshotTable(spark, state)
    assert [h["batch_id"] for h in t.history()] == [0]   # batch 0 only
    data = os.path.join(state, "data")
    live = {os.path.basename(os.path.dirname(f["path"]))
            for f in t._manifest(t.current_snapshot_id())["files"]}
    orphans = set(os.listdir(data)) - live
    assert len(orphans) == 1          # the crashed fold's files
    run()
    got = {(r["k"], r["row"], r["col"]): r["cnt"]
           for r in t.read().collect()}
    batch = spark.createDataFrame(pd.concat(frames), SRC_SCHEMA)
    exp = {(r["k"], r["row"], r["col"]): r["cnt"]
           for r in S.cm_sketch(batch, ["k"], "item").collect()}
    assert got == exp
    assert not orphans & set(os.listdir(data))  # vacuumed
