"""Snapshot-table layer (plans/snapshots.py): Iceberg semantics on parquet —
atomic commits, time travel, copy-on-write DELETE/MERGE, rollback, and the
north-rule resume contract (interrupted run → table serves the last
committed snapshot)."""

import contextlib
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mbrngq_spark.plans.snapshots import SnapshotTable


def _docs(spark, lo, hi, tag="a"):
    pdf = pd.DataFrame({"doc_id": range(lo, hi),
                        "text": [f"{tag}-{i}" for i in range(lo, hi)]})
    return spark.createDataFrame(pdf)


@contextlib.contextmanager
def _in_run(spark, run_id):
    """Commit as streaming query ``run_id``: the local property Spark sets
    on the thread that runs a foreachBatch function."""
    sc = spark.sparkContext
    sc.setLocalProperty("sql.streaming.queryId", run_id)
    try:
        yield
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def _fold_cm(spark, t, tag, batch_id):
    """Fold a 20-item count-min batch sketch into state table ``t``."""
    from mbrngq_spark.operators import sketch as S

    batch = spark.createDataFrame(
        pd.DataFrame({"item": [f"i{tag}-{i}" for i in range(20)]}))
    t.fold_batch(S.cm_sketch(batch, [], "item"), batch_id,
                 lambda parts: S.cm_merge(parts, []))


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.create(_docs(spark, 0, 100))
    return t


def test_append_and_time_travel(spark, table):
    s1 = table.current_snapshot_id()
    s2 = table.append(_docs(spark, 100, 150))
    assert table.read().count() == 150
    assert table.read(snapshot_id=s1).count() == 100   # VERSION AS OF
    assert [h["operation"] for h in table.history()] == ["create", "append"]
    assert table.history()[-1]["n_rows"] == 150
    assert s2 == s1 + 1


def test_delete_where_rewrites_only_touched_files(spark, table):
    table.append(_docs(spark, 100, 150))
    before = {f["path"] for f in table._manifest(table.current_snapshot_id())["files"]}
    table.delete_where(F.col("doc_id") < 10)
    after = table._manifest(table.current_snapshot_id())["files"]
    # untouched files are carried over verbatim (copy-on-write)
    assert any(f["path"] in before for f in after)
    got = table.read()
    assert got.count() == 140
    assert got.filter(F.col("doc_id") < 10).count() == 0


def test_merge_upsert(spark, table):
    updates = spark.createDataFrame(pd.DataFrame({
        "doc_id": [5, 6, 500], "text": ["new-5", "new-6", "new-500"]}))
    table.merge_upsert(updates, key="doc_id")
    got = table.read()
    assert got.count() == 101                          # 2 updated, 1 inserted
    assert got.filter("doc_id = 5").first().text == "new-5"
    assert got.filter("doc_id = 500").count() == 1
    assert got.filter("text = 'a-5'").count() == 0


def test_rollback_preserves_history(spark, table):
    s1 = table.current_snapshot_id()
    table.delete_where(F.col("doc_id") >= 0)           # delete everything
    s3 = table.rollback(s1)
    assert table.read().count() == 100
    assert s3 > s1                                     # history never rewritten
    assert [h["operation"] for h in table.history()][-1] == "rollback"


def test_crash_between_write_and_commit_is_invisible(spark, table, tmp_path):
    """Orphan data files (written, never committed) must not be readable —
    the table keeps serving the last committed snapshot, which is exactly
    the resume contract for interrupted runs."""
    orphan = _docs(spark, 900, 950, tag="orphan")
    orphan.write.parquet(os.path.join(table._data_dir, "batch-orphan-crash"))
    got = table.read()
    assert got.count() == 100
    assert got.filter(F.col("doc_id") >= 900).count() == 0
    # resume: the next writer simply commits; orphans stay invisible
    table.append(_docs(spark, 100, 120))
    assert table.read().count() == 120


def test_empty_delete_commits_noop_snapshot(spark, table):
    s = table.delete_where(F.col("doc_id") > 10_000)
    assert table.read(snapshot_id=s).count() == 100


def test_index_over_snapshot_table(spark, tmp_path):
    """I1/I5 against a snapshot-backed index: insert commits one snapshot,
    delete is keyed copy-on-write, and the pre-delete snapshot remains
    readable (time travel over index history)."""
    from pyspark.sql import functions as F2

    from mbrngq_spark.index_ops import delete_docs_snapshot, \
        insert_docs_snapshot
    from mbrngq_spark.sources.synth import documents_spans, \
        with_geometry_spans
    docs = with_geometry_spans(documents_spans(spark, 400)) \
        .withColumn("doc_id", F2.substring("doc_id", 5, 8).cast("long"))
    t = SnapshotTable(spark, str(tmp_path / "idx"))
    # build initial index as the create snapshot
    from mbrngq_spark.index import IndexLayout, build_index
    indexed, _ = build_index(docs.filter("doc_id < 300"), IndexLayout())
    t.create(indexed)
    s1 = t.current_snapshot_id()
    insert_docs_snapshot(t, docs.filter("doc_id >= 300"))
    assert t.read().count() == 400
    victims = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 350]}))
    delete_docs_snapshot(t, victims)
    back = t.read()
    assert back.count() == 397
    assert back.filter(F2.col("doc_id").isin([1, 2, 350])).count() == 0
    assert t.read(snapshot_id=s1).count() == 300       # history intact


def test_compaction_preserves_data_and_history(spark, table):
    for lo in range(100, 160, 20):
        table.append(_docs(spark, lo, lo + 20))
    pre = table.current_snapshot_id()
    n_files_pre = len(table._manifest(pre)["files"])
    table.compact(target_files=2)
    post = table._manifest(table.current_snapshot_id())
    assert len(post["files"]) <= 2 < n_files_pre
    got = table.read().toPandas().sort_values("doc_id")
    assert got.doc_id.tolist() == list(range(160))
    # time travel to the pre-compaction snapshot still resolves
    assert table.read(snapshot_id=pre).count() == 160


def test_expire_snapshots_vacuums_orphans(spark, table):
    table.append(_docs(spark, 100, 140))
    table.delete_where(F.col("doc_id") < 20)       # rewrites touched files
    s_old = table.current_snapshot_id() - 1
    table.read(snapshot_id=s_old)                  # resolvable pre-expire
    stats = table.expire_snapshots(keep_last=1)
    assert stats["snapshots_removed"] == 2
    assert stats["files_removed"] > 0
    # current snapshot fully intact
    got = table.read()
    assert got.count() == 120
    assert got.filter(F.col("doc_id") < 20).count() == 0
    # expired history no longer resolves
    import pytest as _pt
    with _pt.raises(FileNotFoundError):
        table._manifest(s_old)


def test_table_root_with_space_survives_vacuum(spark, tmp_path):
    """input_file_name() percent-encodes URIs: a table root with a space
    must still vacuum ONLY orphans (regression: encoded manifest paths
    never matched os.walk paths, so every live file was 'orphan')."""
    t = SnapshotTable(spark, str(tmp_path / "tbl with space"))
    t.create(_docs(spark, 0, 50))
    t.append(_docs(spark, 50, 80))
    t.expire_snapshots(keep_last=1)
    got = t.read()
    assert got.count() == 80                       # live files untouched
    assert sorted(r.doc_id for r in got.select("doc_id").collect()) \
        == list(range(80))


def test_expire_removes_dead_batch_dirs_and_rejects_keep_last_below_one(
        spark, table):
    """The vacuum removes every batch directory no kept manifest
    references (with its _SUCCESS marker and .crc sidecars), and
    ``keep_last < 1`` raises instead of expiring nothing (0: ``ids[-0:]``
    is the whole list) or the oldest snapshots (negative)."""
    table.append(_docs(spark, 100, 140))
    table.delete_where(F.col("doc_id") < 20)
    for bad in (0, -1):
        with pytest.raises(ValueError):
            table.expire_snapshots(keep_last=bad)
    assert len(table.history()) == 3           # the bad calls expired none
    table.compact(target_files=1)              # supersedes every batch dir
    table.expire_snapshots(keep_last=1)
    data = os.path.join(table.path, "data")
    live = {os.path.dirname(f["path"]) for f in
            table._manifest(table.current_snapshot_id())["files"]}
    assert {os.path.join(data, d) for d in os.listdir(data)} == live
    assert table.read().count() == 120


def test_fold_state_stays_bounded(spark, tmp_path):
    """fold_batch expires all but the two newest snapshots on every
    commit: after 6 folds the state directory holds no more files than
    after 3, and the state is the sum over all 6 batches."""
    from mbrngq_spark.operators import sketch as S

    t = SnapshotTable(spark, str(tmp_path / "state"))

    def n_files():
        return sum(len(fs) for _, _, fs in os.walk(t.path))

    for b in range(3):
        _fold_cm(spark, t, b, b)
    after3 = n_files()
    for b in range(3, 6):
        _fold_cm(spark, t, b, b)
    assert n_files() <= after3
    assert len(t.history()) == 2
    assert t.read().agg(F.sum("cnt")).first()[0] == 6 * 20 * S.CM_D


def test_fold_keeps_previous_state_readable(spark, tmp_path):
    """A reader that resolved the state before the next micro-batch folds
    can still scan every row it resolved: the fold's vacuum keeps the
    superseded snapshot's files until the fold after."""
    from mbrngq_spark.operators import sketch as S

    t = SnapshotTable(spark, str(tmp_path / "state"))
    _fold_cm(spark, t, 0, 0)
    _fold_cm(spark, t, 1, 1)
    before = t.read()                      # resolves the current files
    _fold_cm(spark, t, 2, 2)
    assert before.agg(F.sum("cnt")).first()[0] == 2 * 20 * S.CM_D
    assert t.read().agg(F.sum("cnt")).first()[0] == 3 * 20 * S.CM_D


def test_fold_replay_after_another_run_is_a_noop(spark, tmp_path):
    """Run A folds batch 0 and crashes before its checkpoint commit; run
    B (a fresh checkpoint, batch ids from 0) then folds twice into the
    same state, so A's manifest is expired; A restarts and replays batch
    0. The replay must no-op — every manifest carries each run's last
    batch id — so the SUM state counts A's batch once."""
    from mbrngq_spark.operators import sketch as S

    t = SnapshotTable(spark, str(tmp_path / "state"))
    with _in_run(spark, "run-a"):
        _fold_cm(spark, t, "a0", 0)
    with _in_run(spark, "run-b"):
        _fold_cm(spark, t, "b0", 0)
        _fold_cm(spark, t, "b1", 1)
    assert all(h.get("run_id") == "run-b" for h in t.history())
    with _in_run(spark, "run-a"):
        _fold_cm(spark, t, "a0", 0)        # replay of A's batch 0
        _fold_cm(spark, t, "a1", 1)        # A's next batch commits
    assert t.read().agg(F.sum("cnt")).first()[0] == 4 * 20 * S.CM_D


def test_relative_table_root_survives_vacuum(spark, tmp_path):
    """Manifest paths are absolute (input_file_name), so the vacuum must
    walk the data directory by its absolute path: walking a RELATIVE
    table root never matched a manifest path and deleted every live
    file."""
    t = SnapshotTable(spark, os.path.relpath(tmp_path / "rel_tbl"))
    t.create(_docs(spark, 0, 50))
    t.append(_docs(spark, 50, 80))
    t.expire_snapshots(keep_last=1)
    assert t.read().count() == 80


def test_delete_all_then_merge_into_empty_table(spark, table):
    """Emptying the table must leave it readable (empty DF with the
    manifest schema), so MERGE can still insert."""
    table.delete_where(F.col("doc_id") >= 0)
    empty = table.read()
    assert empty.count() == 0
    assert set(empty.columns) == {"doc_id", "text"}
    import pandas as _pd
    table.merge_upsert(spark.createDataFrame(
        _pd.DataFrame({"doc_id": [1, 2], "text": ["x", "y"]})), key="doc_id")
    assert table.read().count() == 2


def test_manifest_stats_skip_files(spark, tmp_path):
    """read(where=…) prunes files whose min/max bounds exclude the
    predicate — the Iceberg manifest-stat file-skipping behavior."""
    t = SnapshotTable(spark, str(tmp_path / "stats_tbl"))
    t.create(_docs(spark, 0, 100).coalesce(1))
    t.append(_docs(spark, 100, 200).coalesce(1))
    t.append(_docs(spark, 200, 300).coalesce(1))
    got = t.read(where=("doc_id", ">=", 250))
    assert got.count() == 50
    assert t.last_scan["files"] == 3 and t.last_scan["skipped"] == 2
    # conjunction narrows to exactly one file
    got = t.read(where=[("doc_id", ">=", 120), ("doc_id", "<", 180)])
    assert got.count() == 60
    assert t.last_scan["skipped"] == 2
    # fully pruned scan → empty DF with schema, zero files opened
    got = t.read(where=("doc_id", ">", 10 ** 9))
    assert got.count() == 0 and t.last_scan["skipped"] == 3
    # predicates are also real row filters (exactness within kept files)
    got = t.read(where=("doc_id", "=", 150))
    assert [r.doc_id for r in got.collect()] == [150]


def test_add_column_schema_evolution(spark, table):
    """Append with a new column = add-column evolution: the manifest schema
    grows, old files read back nulls in the new column, time travel shows
    the old schema, and a type change raises."""
    s1 = table.current_snapshot_id()
    with_lang = spark.createDataFrame(pd.DataFrame({
        "doc_id": [200, 201], "text": ["x", "y"], "lang": ["en", "de"]}))
    table.append(with_lang)
    got = table.read()
    assert got.columns == ["doc_id", "text", "lang"]
    assert got.filter(F.col("doc_id") == 200).first().lang == "en"
    assert got.filter(F.col("lang").isNull()).count() == 100  # old files
    assert table.read(snapshot_id=s1).columns == ["doc_id", "text"]
    bad = spark.createDataFrame(pd.DataFrame({"doc_id": [1]})) \
        .withColumn("text", F.lit(7))              # text: string → int
    import pytest as _pt
    with _pt.raises(ValueError, match="type evolution"):
        table.append(bad)


def test_cluster_by_write_tightens_pruning(spark, tmp_path):
    """cluster_by range-partitions + sorts the write, so per-file bounds
    are tight and a point/range predicate prunes most files — the
    write-side half of the file-skipping story."""
    t = SnapshotTable(spark, str(tmp_path / "clustered"))
    t.create(_docs(spark, 0, 300), cluster_by="doc_id", target_files=3)
    assert len(t._manifest(t.current_snapshot_id())["files"]) == 3
    got = t.read(where=("doc_id", ">=", 250))
    assert got.count() == 50
    assert t.last_scan["skipped"] >= 2


def test_zorder_cluster_prunes_both_dimensions(spark, tmp_path):
    """cluster_by=(x, y) lays rows along the Morton curve, so a 2-D box
    read prunes files on BOTH dimensions; a 1-D sort on x alone leaves
    every file spanning the full y domain, so a tight-y box prunes
    nothing extra. Results must be identical either way (pruning is
    lossless)."""
    import itertools
    pdf = pd.DataFrame(
        [(i, float(ix), float(iy))
         for i, (ix, iy) in enumerate(itertools.product(range(64),
                                                        range(64)))],
        columns=["doc_id", "x", "y"])
    df = spark.createDataFrame(pdf)
    box = [("x", ">=", 8.0), ("x", "<=", 15.0),
           ("y", ">=", 8.0), ("y", "<=", 15.0)]

    t1 = SnapshotTable(spark, str(tmp_path / "xsorted"))
    t1.create(df, cluster_by="x", target_files=16)
    r1 = sorted(r["doc_id"] for r in t1.read(where=box).collect())
    skip_1d = t1.last_scan["skipped"]

    t2 = SnapshotTable(spark, str(tmp_path / "zordered"))
    t2.create(df, cluster_by=("x", "y"), target_files=16)
    r2 = sorted(r["doc_id"] for r in t2.read(where=box).collect())
    skip_z = t2.last_scan["skipped"]

    exact = sorted(r["doc_id"] for r in df.filter(
        (F.col("x").between(8, 15)) & (F.col("y").between(8, 15)))
        .collect())
    assert r1 == r2 == exact and len(exact) == 64
    # the x-sort prunes only on x (≤ 16-4=12 of 16 skippable; in practice
    # ~14 here since the box spans 1/8 of x); z-order must beat it by
    # pruning on y as well
    assert skip_z > skip_1d, (skip_z, skip_1d)
    assert skip_z >= 14, skip_z


def test_compact_with_zorder_recovers_pruning(spark, tmp_path):
    """Appends in ingest order leave every file spanning the whole
    domain (no pruning); compact(cluster_by=(x, y)) rewrites the
    survivors along the Morton curve and the same 2-D box read starts
    skipping files — Delta's OPTIMIZE ZORDER BY, without re-ingesting."""
    import itertools
    pts = [(i, float(ix), float(iy))
           for i, (ix, iy) in enumerate(itertools.product(range(48),
                                                          range(48)))]
    import random
    random.Random(7).shuffle(pts)            # ingest order ≠ spatial order
    pdf = pd.DataFrame(pts, columns=["doc_id", "x", "y"])
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    third = len(pdf) // 3
    t.create(spark.createDataFrame(pdf.iloc[:third]), target_files=None)
    t.append(spark.createDataFrame(pdf.iloc[third:2 * third]))
    t.append(spark.createDataFrame(pdf.iloc[2 * third:]))
    box = [("x", ">=", 4.0), ("x", "<=", 11.0),
           ("y", ">=", 4.0), ("y", "<=", 11.0)]
    before = sorted(r["doc_id"] for r in t.read(where=box).collect())
    skipped_before = t.last_scan["skipped"]
    t.compact(target_files=12, cluster_by=("x", "y"))
    after = sorted(r["doc_id"] for r in t.read(where=box).collect())
    assert after == before and len(after) == 64
    assert t.last_scan["files"] == 12
    assert t.last_scan["skipped"] > skipped_before
    assert t.last_scan["skipped"] >= 9, t.last_scan


def test_same_millisecond_commits_do_not_collide(spark, table):
    for lo in range(100, 160, 20):                  # rapid-fire appends
        table.append(_docs(spark, lo, lo + 20).coalesce(1))
    assert table.read().count() == 160


def test_streaming_ingest_commits_batches_exactly_once(spark, tmp_path):
    """Streaming → snapshot table: one snapshot per micro-batch, replayed
    batches no-op (manifest batch_id), restart resumes both cursors."""
    from pyspark.sql import types as T

    from mbrngq_spark.streaming.snapshot_stream import \
        ingest_snapshot_stream

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    src = str(tmp_path / "src")
    for b in range(3):
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(b * 10, b * 10 + 10),
                          "text": [f"s-{i}" for i in range(10)]}),
            schema).coalesce(1).write.mode("append").parquet(src)
    t = SnapshotTable(spark, str(tmp_path / "ingested"))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = ingest_snapshot_stream(stream, t, str(tmp_path / "ckpt"),
                               trigger={"availableNow": True})
    q.awaitTermination(180)
    assert t.read().count() == 30
    history = t.history()
    batch_ids = [h.get("batch_id") for h in history]
    assert sorted(b for b in batch_ids if b is not None) == [0, 1, 2]
    # replay of an already-committed batch (at-least-once retry) no-ops
    replay = spark.createDataFrame(
        pd.DataFrame({"doc_id": [999], "text": ["dup"]}), schema)
    snap_before = t.current_snapshot_id()
    with _in_run(spark, q.id):     # the run id is the streaming query id
        assert t.append_batch(replay, batch_id=1) <= snap_before
    assert t.read().count() == 30
    # a DIFFERENT run (fresh checkpoint → batch ids restart at 0) must NOT
    # be swallowed as a replay of this run's batch ids
    other = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1000], "text": ["other-run"]}), schema)
    with _in_run(spark, "fresh-checkpoint-run"):
        assert t.append_batch(other, batch_id=1) > snap_before
    assert t.read().count() == 31
    t.delete_where(F.col("doc_id") == 1000)   # restore for the restart leg
    # restart with the same checkpoint + one NEW source file → only the
    # new rows commit (both cursors resume consistently)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": range(30, 35), "text": ["n"] * 5}),
        schema).coalesce(1).write.mode("append").parquet(src)
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    q2 = ingest_snapshot_stream(stream2, t, str(tmp_path / "ckpt"),
                                trigger={"availableNow": True})
    q2.awaitTermination(180)
    assert t.read().count() == 35


def test_checkpoint_rows_can_carry_snapshot_ids(spark, table, tmp_path):
    """The per-partition lineage protocol keyed on snapshot ids: a unit's
    commit row records the snapshot it produced, and resume reads the last
    committed one (checkpoint.py's Iceberg mapping, module docstring)."""
    from mbrngq_spark.plans.checkpoint import lineage_checksum
    snap = table.append(_docs(spark, 100, 130))
    ck = lineage_checksum(table.read(snapshot_id=snap))
    # a lineage row referencing the snapshot reproduces its checksum later
    assert lineage_checksum(table.read(snapshot_id=snap)) == ck
    table.delete_where(F.col("doc_id") < 50)           # table moves on
    assert lineage_checksum(table.read(snapshot_id=snap)) == ck


def test_metadata_count_exact_and_scan_avoiding(spark, tmp_path):
    """metadata_count == full-scan count for no-predicate, fully-included,
    fully-excluded, and boundary predicates — and the no-predicate /
    interior cases open ZERO data files (clustered writes make bounds
    tight, so most files decide from the manifest)."""
    from mbrngq_spark.plans.snapshots import SnapshotTable

    docs = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 100).cast("double").alias("v"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # cluster by doc_id so per-file doc_id bounds are disjoint ranges
    t.create(docs.orderBy("doc_id").repartitionByRange(6, "doc_id"))

    # no predicate: pure metadata
    assert t.metadata_count() == 3000
    assert t.last_count["scanned"] == 0

    # fully-excluded predicate
    assert t.metadata_count(where=("doc_id", ">", 999999)) == 0
    assert t.last_count["scanned"] == 0

    # interior range: most files metadata-only, boundary files scanned
    exp = t.read(where=("doc_id", "<", 1777)).count()
    got = t.metadata_count(where=("doc_id", "<", 1777))
    assert got == exp == 1777
    assert t.last_count["metadata_only"] >= 1
    assert t.last_count["scanned"] <= 2  # only the straddling file(s)

    # predicate on an unbounded-stats column type still exact (boundary
    # scan fallback)
    got_v = t.metadata_count(where=[("v", "<=", 49.0)])
    assert got_v == t.read(where=[("v", "<=", 49.0)]).count() == 1500


def test_metadata_min_max(spark, tmp_path):
    from mbrngq_spark.plans.snapshots import SnapshotTable

    docs = spark.range(5, 2505).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 3 % 97).cast("double").alias("v"))
    t = SnapshotTable(spark, str(tmp_path / "mm"))
    t.create(docs.repartition(5))
    assert t.metadata_min_max("doc_id") == (5, 2504)
    lo, hi = t.metadata_min_max("v")
    row = docs.agg(F.min("v"), F.max("v")).collect()[0]
    assert (lo, hi) == (row[0], row[1])
    assert t.metadata_min_max("nope") == (None, None)


def test_metadata_count_schema_evolution_and_nulls(spark, tmp_path):
    """Review regressions: (1) boundary scans on a schema-evolved table
    use the manifest schema (old files surface the new column as null);
    (2) a file with SOME nulls in the predicate column is never counted
    metadata-only (null rows match no comparison)."""
    from mbrngq_spark.plans.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "ev"))
    t.create(spark.range(0, 100).select(F.col("id").alias("doc_id")))
    t.append(spark.range(100, 200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 2).cast("double").alias("v")))
    # predicate on the evolved column: old files lack 'v' stats → they
    # are boundary files read WITH the manifest schema (v = null there)
    got = t.metadata_count(where=("v", ">=", 300.0))
    assert got == t.read(where=("v", ">=", 300.0)).count() == 50

    # nulls in a stats-tracked column must disable the shortcut
    tn = SnapshotTable(spark, str(tmp_path / "nl"))
    rows = [(i, float(i) if i % 2 == 0 else None) for i in range(40)]
    tn.create(spark.createDataFrame(rows, "doc_id long, v double")
              .coalesce(1))
    got = tn.metadata_count(where=("v", "<=", 1000.0))
    assert got == tn.read(where=("v", "<=", 1000.0)).count() == 20
    assert tn.last_count["metadata_only"] == 0  # shortcut refused
