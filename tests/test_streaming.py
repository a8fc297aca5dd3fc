"""Structured Streaming: streamed docs index into the same cells as batch;
windowed per-cell counts with watermark emit closed windows in append mode."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mbrngq_spark.plans.snapshots import SnapshotTable
from mbrngq_spark.streaming.cell_stream import windowed_cell_counts, \
    with_stream_geometry

SRC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

EV_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
])


def _event_fixture():
    """Deterministic per-user event times with sub-gap and super-gap jumps
    (no exact-1800 ties — the two sessionizers differ only on ties)."""
    rows = []
    eid = 0
    for uid in range(6):
        te = 1000 + uid * 37
        for j in range(30):
            rows.append((uid, eid, te))
            eid += 1
            # gaps cycle: mostly small, every 7th jumps past the 1800 gap
            te += 2500 + (uid * 131 + j * 17) % 900 if j % 7 == 6 \
                else 60 + (uid * 13 + j * 29) % 500
    return pd.DataFrame(rows, columns=["user_id", "event_id", "te"])


def _batch_sessions(spark, pdf):
    """The batch sessionize query (same composition as the gate entry)."""
    from pyspark.sql import Window
    ev = spark.createDataFrame(pdf).select(
        "user_id", "event_id", F.col("te").cast("long"))
    w = Window.partitionBy("user_id").orderBy("te", "event_id")
    new_s = F.when((F.col("te") - F.lag("te").over(w) > 1800)
                   | F.lag("te").over(w).isNull(), 1).otherwise(0)
    sess = (ev.withColumn("new_s", new_s)
            .withColumn("session_idx", F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_idx")
            .agg(F.count("*").alias("n_events"),
                 F.min("te").alias("start_epoch"),
                 F.max("te").alias("end_epoch")))


def test_streaming_knn_serves_query_batches(spark, tmp_path):
    """Streaming query serving: a file-stream of query points answered per
    micro-batch equals the batch knn_join on the union of all queries."""
    from mbrngq_spark.functions import derive
    from mbrngq_spark.operators.knn import knn_join
    from mbrngq_spark.streaming.query_stream import serve_knn_stream
    from tests.conftest import SF_DIR

    docs_geo = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .transform(derive.with_geometry)
                .select("doc_id", "x", "y", "category"))

    q_schema = T.StructType([T.StructField("query_id", T.LongType()),
                             T.StructField("qx", T.DoubleType()),
                             T.StructField("qy", T.DoubleType())])
    src_dir = str(tmp_path / "q_src")
    all_q = pd.DataFrame({
        "query_id": range(30),
        "qx": [(i * 37 % 100) + 0.5 for i in range(30)],
        "qy": [(i * 61 % 100) + 0.25 for i in range(30)],
    })
    for b in range(3):
        chunk = all_q.iloc[b * 10:(b + 1) * 10]
        spark.createDataFrame(chunk, q_schema).coalesce(1) \
            .write.mode("append").parquet(src_dir)

    stream = (spark.readStream.schema(q_schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    out_path = str(tmp_path / "knn_out")
    q = serve_knn_stream(docs_geo, stream, k=5, out_path=out_path,
                         checkpoint=str(tmp_path / "ckpt"),
                         trigger={"availableNow": True})
    q.awaitTermination(180)

    got = (SnapshotTable(spark, out_path).read().toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    exp = (knn_join(spark, docs_geo, all_q, k=5)
           .toPandas().sort_values(["query_id", "rank"])
           .reset_index(drop=True))
    assert got.doc_id.tolist() == exp.doc_id.tolist()
    assert len(got) == len(exp)


def test_streaming_ngq_serves_query_batches(spark, tmp_path):
    from mbrngq_spark.functions import derive
    from mbrngq_spark.operators.ngq import nearest_group
    from mbrngq_spark.streaming.query_stream import serve_ngq_stream
    from tests.conftest import SF_DIR

    docs_geo = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
                .transform(derive.with_geometry)
                .filter(F.col("doc_id") < 200)
                .select("doc_id", "x", "y", "category"))
    q_schema = T.StructType([T.StructField("query_id", T.LongType()),
                             T.StructField("qx", T.DoubleType()),
                             T.StructField("qy", T.DoubleType())])
    all_q = pd.DataFrame({"query_id": range(8),
                          "qx": [11.5, 80.25, 50.0, 3.125, 97.5, 25.0,
                                 66.0, 42.75],
                          "qy": [23.25, 14.5, 50.0, 96.875, 2.5, 75.0,
                                 33.5, 58.125]})
    src_dir = str(tmp_path / "q_src_ngq")
    for b in range(2):
        spark.createDataFrame(all_q.iloc[b * 4:(b + 1) * 4], q_schema) \
            .coalesce(1).write.mode("append").parquet(src_dir)
    stream = (spark.readStream.schema(q_schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    out_path = str(tmp_path / "ngq_out")
    q = serve_ngq_stream(docs_geo, stream, k=5, L=16, out_path=out_path,
                         checkpoint=str(tmp_path / "ckpt_ngq"),
                         trigger={"availableNow": True})
    q.awaitTermination(180)
    got = (SnapshotTable(spark, out_path).read().toPandas()
           .sort_values(["query_id", "group_rank"]).reset_index(drop=True))
    exp = (nearest_group(spark, docs_geo, all_q, k=5, L=16).toPandas()
           .sort_values(["query_id", "group_rank"]).reset_index(drop=True))
    for c in ("query_id", "group_rank", "c0_id", "c1_id", "c2_id"):
        assert got[c].tolist() == exp[c].tolist()


def test_stream_dedup_keeps_first_arrival(spark, tmp_path):
    """Streaming exact dedup: planted duplicate texts across micro-batches
    collapse to one row per digest (within the watermark horizon)."""
    from mbrngq_spark.streaming.cell_stream import dedup_stream

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType()),
                           T.StructField("ts", T.TimestampType())])
    src_dir = str(tmp_path / "dedup_src")
    # 3 micro-batches; texts repeat across batches (i % 40 → 40 distinct)
    for b in range(3):
        pdf = pd.DataFrame({
            "doc_id": [b * 100 + i for i in range(100)],
            "text": [f"text-{(b * 100 + i) % 40}" for i in range(100)],
            "ts": pd.to_datetime(b * 60, unit="s"),
        })
        spark.createDataFrame(pdf, schema).coalesce(1) \
            .write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    q = (dedup_stream(src, watermark="10 minutes")
         .writeStream.format("memory").queryName("dedup_s")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("select * from dedup_s").toPandas()
    assert len(got) == 40                      # one row per distinct text
    assert got.text.nunique() == 40


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer == the batch lag/sum sessionize on
    the same events (per-user closed sessions; a far-future flush user
    advances the watermark so every real session times out)."""
    from mbrngq_spark.streaming.sessionize import sessionize_stateful

    pdf = _event_fixture()
    src_dir = str(tmp_path / "ev_src")
    # 4 time-ordered micro-batches, then a flush batch advancing the
    # watermark far past every session close, then one more batch so the
    # timeouts (evaluated against the PREVIOUS batch's watermark) fire
    order = pdf.sort_values(["te", "event_id"]).reset_index(drop=True)
    chunks = np.array_split(order, 4)
    far = int(order.te.max()) + 100_000
    flush1 = pd.DataFrame({"user_id": [999], "event_id": [90001], "te": [far]})
    flush2 = pd.DataFrame({"user_id": [999], "event_id": [90002],
                           "te": [far + 10]})
    for i, chunk in enumerate([*chunks, flush1, flush2]):
        out = chunk.assign(ts=pd.to_datetime(chunk["te"], unit="s"))
        spark.createDataFrame(out[["user_id", "event_id", "ts"]], EV_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(EV_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    sess = sessionize_stateful(src, gap_sec=1800, watermark="10 seconds")
    q = (sess.writeStream.format("memory").queryName("sess_stateful")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = (spark.sql("select * from sess_stateful").toPandas()
           .query("user_id != 999")
           .sort_values(["user_id", "start_epoch"]).reset_index(drop=True))
    exp = (_batch_sessions(spark, pdf).toPandas()
           .sort_values(["user_id", "start_epoch"]).reset_index(drop=True))
    assert len(got) == len(exp)
    for c in ("user_id", "n_events", "start_epoch", "end_epoch"):
        assert got[c].tolist() == exp[c].tolist(), f"mismatch in {c}"


def test_session_window_variant_closes_sessions(spark, tmp_path):
    """Declarative session_window twin: closed sessions appear in append
    mode and agree with the batch sessions on gap-unambiguous data."""
    from mbrngq_spark.streaming.sessionize import sessionize_session_window

    pdf = _event_fixture()
    src_dir = str(tmp_path / "ev_src_sw")
    order = pdf.sort_values(["te", "event_id"]).reset_index(drop=True)
    far = int(order.te.max()) + 100_000
    flush = pd.DataFrame({"user_id": [999], "event_id": [90001], "te": [far]})
    for chunk in [*np.array_split(order, 3), flush]:
        out = chunk.assign(ts=pd.to_datetime(chunk["te"], unit="s"))
        spark.createDataFrame(out[["user_id", "event_id", "ts"]], EV_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(EV_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    sess = sessionize_session_window(src, gap="30 minutes",
                                     watermark="10 seconds")
    q = (sess.writeStream.format("memory").queryName("sess_window")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = (spark.sql("select * from sess_window").toPandas()
           .query("user_id != 999")
           .sort_values(["user_id", "start_epoch"]).reset_index(drop=True))
    exp = (_batch_sessions(spark, pdf).toPandas()
           .sort_values(["user_id", "start_epoch"]).reset_index(drop=True))
    assert len(got) == len(exp)
    for c in ("user_id", "n_events", "start_epoch", "end_epoch"):
        assert got[c].tolist() == exp[c].tolist(), f"mismatch in {c}"


def test_stream_matches_batch_cells(spark, tmp_path):
    # 5 files = 5 micro-batches (maxFilesPerTrigger=1) so the watermark
    # advances between batches; each file is one minute of events
    src_dir = str(tmp_path / "stream_src")
    for minute in range(5):
        pdf = pd.DataFrame({
            "doc_id": [f"doc-{minute * 100 + i:08d}" for i in range(100)],
            "ts": pd.to_datetime(minute * 60, unit="s"),
        })
        spark.createDataFrame(pdf, SRC_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src_dir)

    src = (spark.readStream.schema(SRC_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    geo = with_stream_geometry(src)
    agg = windowed_cell_counts(geo, window="1 minute", watermark="30 seconds")

    q = (agg.writeStream.format("memory").queryName("cellcounts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.sql("select * from cellcounts").toPandas()
    # windows whose end precedes the final watermark are emitted (append
    # semantics hold back only the still-open tail)
    assert len(got) > 0
    assert got["n"].sum() > 0
    # every streamed cell id matches the batch encoder for the same doc_id
    batch = (spark.range(500)
             .select(F.format_string("doc-%08d", F.col("id")).alias("doc_id")))
    batch_cells = with_stream_geometry(batch).select("cell").toPandas()
    assert set(got["cell"]) <= set(batch_cells["cell"])
    # catmask stays within m bits
    assert (got["catmask"] < 8).all() and (got["catmask"] > 0).all()
    # window bounds are aligned minutes
    assert ((got["win_end"] - got["win_start"]).dt.total_seconds() == 60).all()


def test_streaming_asof_enrichment_matches_batch(spark, tmp_path):
    """Per-micro-batch as-of enrichment against a static right side must
    equal the batch as-of join on the union of all left batches."""
    from mbrngq_spark.operators.asof import asof_join
    from mbrngq_spark.streaming.query_stream import enrich_asof_stream

    l_schema = T.StructType([T.StructField("lid", T.LongType()),
                             T.StructField("key", T.LongType()),
                             T.StructField("ts", T.TimestampType())])
    base = pd.Timestamp("2024-03-01")
    left = pd.DataFrame({
        "lid": range(40),
        "key": [i % 5 for i in range(40)],
        "ts": [base + pd.Timedelta(seconds=37 * i % 1000) for i in range(40)],
    })
    right = spark.createDataFrame(pd.DataFrame({
        "key": [i % 5 for i in range(25)],
        "ts": [base + pd.Timedelta(seconds=91 * i % 1000) for i in range(25)],
        "rid": range(25),
    }))
    src = str(tmp_path / "asof_src")
    for b in range(2):
        spark.createDataFrame(left.iloc[b * 20:(b + 1) * 20], l_schema) \
            .coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(l_schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out_path = str(tmp_path / "asof_out")
    q = enrich_asof_stream(stream, right, on="key", out_path=out_path,
                           checkpoint=str(tmp_path / "asof_ckpt"),
                           trigger={"availableNow": True})
    q.awaitTermination(180)
    got = (SnapshotTable(spark, out_path).read().toPandas()
           .sort_values("lid").reset_index(drop=True))
    exp = (asof_join(spark.createDataFrame(left, l_schema), right, on="key",
                     tiebreak="rid")
           .toPandas().sort_values("lid").reset_index(drop=True))
    assert (got["rid_r"].isna() == exp["rid_r"].isna()).all()
    m = ~exp["rid_r"].isna()
    assert (got["rid_r"][m].astype("int64")
            == exp["rid_r"][m].astype("int64")).all()


def test_failure_injection_sink_exactly_once(spark, tmp_path):
    """Kill a foreachBatch query mid-batch — AFTER the batch's rows hit
    storage, BEFORE the checkpoint commits — then restart on the same
    checkpoint. The replay must leave exactly ONE copy of every row.
    This test fails if the sink's (run_id, batch_id) manifest check is
    replaced by a plain append (the replayed batch would double)."""
    import pyspark.errors

    import pytest

    src = str(tmp_path / "src")
    for b in range(3):
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [f"d{b}-{i}" for i in range(10)],
                          "ts": pd.Timestamp("2024-01-01")}),
            SRC_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"

    def handle(df, bid):
        SnapshotTable(spark, outp).append_batch(
            df.withColumn("n", F.lit(1)), bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")        # injected mid-batch crash:
            raise RuntimeError("injected") # rows written, commit never made

    def run():
        q = (spark.readStream.schema(SRC_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run()
    assert marker.exists()                # the crash really happened
    run()                                 # restart: replays batch 1
    got = SnapshotTable(spark, outp).read()
    assert got.count() == 30              # one copy of every source row
    assert got.select("doc_id").distinct().count() == 30


def test_failure_injection_snapshot_exactly_once(spark, tmp_path):
    """Same injection against the snapshot-table ingest path: the crash
    lands AFTER append_batch committed its snapshot, so the replayed
    batch must be recognized by its (run_id, batch_id) manifest and
    no-op. Fails if the manifest replay guard is removed."""
    import pyspark.errors

    import pytest


    src = str(tmp_path / "src")
    for b in range(3):
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [f"d{b}-{i}" for i in range(10)],
                          "ts": pd.Timestamp("2024-01-01")}),
            SRC_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    marker = tmp_path / "crashed-once"

    def handle(df, bid):
        table.append_batch(df, bid)   # run id: the streaming query id
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
    run()
    assert table.read().count() == 30
    batch_ids = [h.get("batch_id") for h in table.history()
                 if h.get("batch_id") is not None]
    assert sorted(batch_ids) == [0, 1, 2]  # batch 1 committed exactly once


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-x-stream interval join (clicks <- views within
    10 min) equals the static interval join on the same data."""
    from mbrngq_spark.streaming.join_stream import interval_join, \
        interval_join_stream

    rng = np.random.default_rng(67)
    base = pd.Timestamp("2024-03-01")
    clicks = pd.DataFrame({
        "user_id": rng.integers(0, 12, 150),
        "click_id": np.arange(150),
        "ts": base + pd.to_timedelta(rng.integers(0, 7200, 150), unit="s")})
    views = pd.DataFrame({
        "user_id": rng.integers(0, 12, 250),
        "view_id": np.arange(250),
        "ts": base + pd.to_timedelta(rng.integers(0, 7200, 250), unit="s")})
    c_schema = "user_id long, click_id long, ts timestamp"
    v_schema = "user_id long, view_id long, ts timestamp"
    csrc, vsrc = str(tmp_path / "c"), str(tmp_path / "v")
    for pdf, schema, src in ((clicks, c_schema, csrc),
                             (views, v_schema, vsrc)):
        for i in range(3):                   # 3 files → 3 micro-batches
            spark.createDataFrame(pdf.iloc[i::3], schema) \
                .coalesce(1).write.mode("append").parquet(src)

    batch = interval_join(spark.createDataFrame(clicks, c_schema),
                          spark.createDataFrame(views, v_schema),
                          "user_id", 600).collect()

    q = interval_join_stream(
        spark.readStream.schema(c_schema).parquet(csrc),
        spark.readStream.schema(v_schema).parquet(vsrc),
        "user_id", 600, str(tmp_path / "out"), str(tmp_path / "ck"),
        trigger={"availableNow": True})
    q.awaitTermination(240)
    got = spark.read.parquet(str(tmp_path / "out")).collect()

    key = lambda r: (r.user_id, r.click_id, r.view_id_r)
    assert sorted(map(key, got)) == sorted(map(key, batch))
    assert len(batch) > 100              # the fixture actually joins


def test_streaming_html_extraction_matches_batch(spark, tmp_path):
    """The extraction head of the pipeline is stateless map-only, so it
    runs unchanged under Structured Streaming — the streamed output must
    equal the batch output row for row (the engine's batch≡stream twin
    discipline applied to the r5 extraction operator)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mbrngq_spark.operators.extract import extract_html

    src = str(tmp_path / "html_src")
    rows = pd.DataFrame({
        "doc_id": range(40),
        "html": [f"<h1>T{i}</h1><script>var x={i};</script>"
                 f"<p>body {i} &amp; tail</p>" for i in range(40)]})
    spark.createDataFrame(rows).write.parquet(src)

    batch = {(r.doc_id, r.text) for r in
             extract_html(spark.read.parquet(src)).collect()}

    stream = (spark.readStream
              .schema("doc_id long, html string").parquet(src))
    q = (extract_html(stream).select("doc_id", "text")
         .writeStream.format("memory").queryName("html_s")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.text) for r in
           spark.sql("SELECT * FROM html_s").collect()}
    assert got == batch and len(got) == 40


def test_streaming_substring_scrub_matches_batch(spark, tmp_path):
    """The substring-dedup SCRUB runs unchanged under Structured
    Streaming as a stream-static join: span detection is corpus-global
    (batch, cross-doc aggregation), the resulting span table is static,
    and scrub_substring_spans' token filter is stateless map-only — so
    streamed scrub output must equal the batch scrub row for row (the
    batch≡stream twin discipline applied to the r6 scrub operator)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mbrngq_spark.operators.dedup import (scrub_substring_spans,
                                              shared_substring_spans)

    src = str(tmp_path / "scrub_src")
    boiler = "common license text shared across these docs verbatim"
    rows = pd.DataFrame({
        "doc_id": range(30),
        "text": [f"doc {i} opening words {boiler} unique tail {i * 7}"
                 if i % 2 == 0 else f"unshared body {i} with no passage"
                 for i in range(30)]})
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(src)

    docs = spark.read.parquet(src)
    spans = shared_substring_spans(docs, n=4, min_run=2) \
        .localCheckpoint(eager=True)     # static side, computed once
    batch = {(r.doc_id, r.text, r.n_tokens_kept) for r in
             scrub_substring_spans(docs, spans).collect()}

    stream = (spark.readStream
              .schema("doc_id long, text string").parquet(src))
    q = (scrub_substring_spans(stream, spans)
         .select("doc_id", "text", "n_tokens_kept")
         .writeStream.format("memory").queryName("scrub_s")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.doc_id, r.text, r.n_tokens_kept) for r in
           spark.sql("SELECT * FROM scrub_s").collect()}
    assert got == batch and len(got) == 30
    # the shared passage really was scrubbed from every even doc
    assert all(boiler not in t for d, t, _ in got if d % 2 == 0)


def test_failure_injection_substring_scrub_exactly_once(spark, tmp_path):
    """Exactly-once under an injected mid-batch crash for the scrub
    path: rows hit storage, the checkpoint never commits, the restart
    replays the batch — the sink's (run_id, batch_id) manifest check
    must leave exactly one scrubbed copy of every source row."""
    import pandas as pd
    import pyspark.errors
    import pytest
    from pyspark.sql import functions as F

    from mbrngq_spark.operators.dedup import (scrub_substring_spans,
                                              shared_substring_spans)

    src = str(tmp_path / "src")
    boiler = "repeated boilerplate passage planted in every document here"
    for b in range(3):
        spark.createDataFrame(
            pd.DataFrame({"doc_id": [b * 10 + i for i in range(10)],
                          "text": [f"doc {b * 10 + i} says {boiler} end"
                                   for i in range(10)]}),
            "doc_id long, text string") \
            .coalesce(1).write.mode("append").parquet(src)

    docs = spark.read.parquet(src)
    spans = shared_substring_spans(docs, n=4, min_run=2) \
        .localCheckpoint(eager=True)
    outp, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    marker = tmp_path / "crashed-once"

    def handle(df, bid):
        SnapshotTable(spark, outp).append_batch(
            scrub_substring_spans(df, spans), bid)
        if bid == 1 and not marker.exists():
            marker.write_text("x")
            raise RuntimeError("injected")

    def run():
        q = (spark.readStream.schema("doc_id long, text string")
             .option("maxFilesPerTrigger", 1).parquet(src)
             .writeStream.foreachBatch(handle)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run()
    assert marker.exists()
    run()
    got = SnapshotTable(spark, outp).read()
    assert got.count() == 30
    assert got.select("doc_id").distinct().count() == 30
    assert got.filter(F.col("text").contains(boiler)).count() == 0
