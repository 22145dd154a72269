"""Streaming integration tests: version-offset source (Python
DataSource), exactly-once foreachBatch sink, end-to-end delta→delta."""

from __future__ import annotations

import time

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.expressions import Col, Lit
from tests.conftest import SF_DIR
from connectors_spark.errors import DeltaError
from connectors_spark.streaming import DeltaStreamSink, register_stream_source
from connectors_spark.streaming.source import DeltaVersionStreamReader


def _mk_table(spark, path, versions=2, rows_per=5):
    t = DeltaTable.for_path(spark, str(path))
    for v in range(versions):
        df = spark.range(v * rows_per, (v + 1) * rows_per) \
            .select(F.col("id"), (F.col("id") * 10).alias("val"))
        t.write(df, mode="append")
    return t


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_stream_source(spark)


def test_source_reads_all_versions(spark, tmp_path):
    # explicit startingVersion=0 = full-history replay (the ST4 default
    # is snapshot-first; see test_default_start_snapshot_then_tail)
    src = tmp_path / "src"
    _mk_table(spark, src, versions=3)
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src))
         .option("startingVersion", "0").load()
         .writeStream.format("memory").queryName("t_all")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from t_all").collect()
    assert len(rows) == 15
    by_version = {}
    for r in rows:
        by_version.setdefault(r._commit_version, []).append(r.id)
    assert set(by_version) == {0, 1, 2}
    assert sorted(by_version[1]) == [5, 6, 7, 8, 9]


def test_source_tails_new_commits(spark, tmp_path):
    src = tmp_path / "src"
    t = _mk_table(spark, src, versions=1)
    stream = (spark.readStream.format("delta_stream")
              .option("path", str(src)).load()
              .writeStream.format("memory").queryName("t_tail")
              .option("checkpointLocation", str(tmp_path / "ck"))
              .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline and \
                spark.sql("select * from t_tail").count() < 5:
            time.sleep(0.5)
        assert spark.sql("select * from t_tail").count() == 5
        t.write(spark.range(100, 103).select(
            F.col("id"), (F.col("id") * 10).alias("val")), mode="append")
        deadline = time.time() + 60
        while time.time() < deadline and \
                spark.sql("select * from t_tail").count() < 8:
            time.sleep(0.5)
        got = spark.sql(
            "select id from t_tail where _commit_version = 1").collect()
        assert sorted(r.id for r in got) == [100, 101, 102]
    finally:
        stream.stop()


def test_source_validation_ignore_deletes(spark, tmp_path):
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    t = _mk_table(spark, src, versions=2)
    from connectors_spark.expressions import Col, Lit
    t.delete(Col("id") < Lit(3))   # version 2: removes (+ rewrite adds)
    reader = DeltaVersionStreamReader(StructType(), {"path": str(src)})
    with pytest.raises(DeltaError):
        reader.partitions({"version": 0}, {"version": 2})
    reader2 = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "ignorechanges": "true"})
    parts = reader2.partitions({"version": 0}, {"version": 2})
    assert all(p.version in (1, 2) for p in parts)


def test_sink_exactly_once(spark, tmp_path):
    target = tmp_path / "tgt"
    sink = DeltaStreamSink(str(target), app_id="app-1")
    df0 = spark.range(0, 5).select(F.col("id"), F.lit("a").alias("tag"))
    df1 = spark.range(5, 8).select(F.col("id"), F.lit("b").alias("tag"))
    assert sink.write_batch(df0, 0) == 0
    assert sink.write_batch(df1, 1) == 1
    # replays (restart from checkpoint) are skipped, no duplicates
    assert sink.write_batch(df0, 0) is None
    assert sink.write_batch(df1, 1) is None
    t = DeltaTable.for_path(spark, str(target))
    assert t.to_df().count() == 8
    assert sink.last_committed_batch(spark) == 1
    # out-of-order older batch also skipped
    assert sink.write_batch(df0, 0) is None
    assert sink.write_batch(df1, 2) == 2
    assert t.to_df().count() == 11


@pytest.mark.pin
def test_sink_checkpoint_is_driver_write_without_spark_jobs(
        spark, tmp_path, monkeypatch):
    """A log only the sink has written reaches its checkpoint interval
    with no file plane cached. Its snapshot is driver-replayable, so the
    checkpoint is the driver write and starts no Spark job."""
    import connectors_spark.log.checkpoints as CK
    sink = DeltaStreamSink(str(tmp_path / "tgt"), app_id="pin",
                           configuration={"delta.checkpointInterval": "3"})
    tracker = spark.sparkContext.statusTracker()
    driver, new_jobs = [], []
    write, write_driver = CK.write_checkpoint, CK._write_checkpoint_driver

    def spy_write(snap, *args, **kwargs):
        before = set(tracker.getJobIdsForGroup())
        n = write(snap, *args, **kwargs)
        new_jobs.append(set(tracker.getJobIdsForGroup()) - before)
        return n

    def spy_driver(snap, pm_lines):
        driver.append(snap.version)
        return write_driver(snap, pm_lines)
    monkeypatch.setattr(CK, "write_checkpoint", spy_write)
    monkeypatch.setattr(CK, "_write_checkpoint_driver", spy_driver)
    for b in range(4):
        sink.write_batch(spark.range(10 * b, 10 * b + 10), b)
    assert driver == [3]
    assert new_jobs == [set()]
    assert tracker.getJobIdsForGroup()       # the sink's own jobs count
    t = DeltaTable.for_path(spark, str(tmp_path / "tgt"))
    assert t.log.snapshot().segment.checkpoint_version == 3
    assert t.to_df().count() == 40


def test_end_to_end_delta_to_delta(spark, tmp_path):
    src, tgt = tmp_path / "src", tmp_path / "tgt"
    _mk_table(spark, src, versions=2, rows_per=4)
    sink = DeltaStreamSink(str(tgt), app_id="e2e")
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src)).load()
         .drop("_commit_version")
         .writeStream.foreachBatch(sink.foreach_batch)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = DeltaTable.for_path(spark, str(tgt)).to_df()
    assert sorted(r.id for r in out.collect()) == list(range(8))


def test_source_start_position_options(spark, tmp_path):
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    t = _mk_table(spark, src, versions=3)
    commits = {h["version"]: h["timestamp"] for h in t.history()}

    # startingVersion=2 skips versions 0-1
    r = DeltaVersionStreamReader(StructType(),
                                 {"path": str(src), "startingversion": "2"})
    assert r.initialOffset() == {"version": 1}

    # startingVersion=latest consumes nothing that exists yet
    r = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "startingversion": "latest"})
    assert r.initialOffset() == {"version": 2}

    # startingTimestamp at v1's commit time starts at v1
    r = DeltaVersionStreamReader(
        StructType(),
        {"path": str(src), "startingtimestamp": str(commits[1])})
    assert r.initialOffset() == {"version": 0}

    # timestamp after every commit → only future versions
    r = DeltaVersionStreamReader(
        StructType(),
        {"path": str(src), "startingtimestamp": str(commits[2] + 10_000)})
    assert r.initialOffset() == {"version": 2}

    # mutually exclusive options
    with pytest.raises(DeltaError):
        DeltaVersionStreamReader(
            StructType(), {"path": str(src), "startingversion": "1",
                           "startingtimestamp": "0"})


def test_stream_watermark_window_agg(spark, tmp_path):
    """Extension beyond reference parity: event-time windowed counts
    with a watermark over the Delta stream source — the Structured
    Streaming capabilities the Flink connector never had compose
    directly with our version-as-offset source."""
    import datetime as dt

    from pyspark.sql import functions as F

    from connectors_spark.streaming.source import register_stream_source
    from connectors_spark.table import DeltaTable

    path = str(tmp_path / "tbl")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(i, base + dt.timedelta(minutes=7 * i)) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    DeltaTable.for_path(spark, path).write(df)

    register_stream_source(spark)
    out = (spark.readStream.format("delta_stream")
           .option("path", path).load()
           .withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "30 minutes").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    q = (out.writeStream.format("memory").queryName("win_agg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["w"]["start"].minute + 60 * r["w"]["start"].hour, r["n"])
           for r in spark.sql("SELECT * FROM win_agg").collect()}
    # 10 events at 7-min spacing over [0, 63] → windows 0/30/60 min
    assert got == {(0, 5), (30, 4), (60, 1)}


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization over the Delta stream
    source: gaps inside a batch close sessions immediately; the trailing
    open session stays in state (flushed by event-time timeout once the
    watermark passes — not reached in a single availableNow batch)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from connectors_spark.streaming.source import register_stream_source
    from connectors_spark.streaming.stateful import sessionize_stream
    from connectors_spark.table import DeltaTable

    path = str(tmp_path / "tbl")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(sec):
        return base + dt.timedelta(seconds=sec)

    rows = [
        # user 1: burst of 3, 2000s quiet, burst of 2 (stays open)
        (1, at(0)), (1, at(10)), (1, at(20)), (1, at(2020)), (1, at(2030)),
        # user 2: two singleton sessions, last stays open
        (2, at(0)), (2, at(5000)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    DeltaTable.for_path(spark, path).write(df)

    register_stream_source(spark)
    stream = (spark.readStream.format("delta_stream")
              .option("path", path).load()
              .withWatermark("ts", "10 seconds"))
    out = sessionize_stream(stream, gap_seconds=1800)
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["session_start"].second + 60 * r["session_start"].minute,
            r["n_events"])
           for r in spark.sql("SELECT * FROM sessions").collect()}
    assert got == {(1, 0, 3), (2, 0, 1)}


def test_source_offset_recovery_across_restart(spark, tmp_path):
    """Restarting a stream with the same checkpointLocation resumes from
    the committed version offset: rows delivered before the stop are
    not redelivered, rows committed while down are picked up."""
    from pyspark.sql import functions as F

    from connectors_spark.streaming.source import register_stream_source
    from connectors_spark.table import DeltaTable

    path = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(0, 100).select(F.col("id")))

    register_stream_source(spark)

    def run_once():
        q = (spark.readStream.format("delta_stream")
             .option("path", path).load()
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 100

    t.write(spark.range(100, 150).select(F.col("id")))   # while "down"
    run_once()
    rows = [r["id"] for r in spark.read.parquet(out).collect()]
    assert len(rows) == 150                 # no redelivery
    assert sorted(rows) == list(range(150))


def test_default_start_snapshot_then_tail(spark, tmp_path):
    """ST4 (SnapshotAndChangesTableProcessor.java): with no
    startingVersion, the first microbatch is the CURRENT snapshot and
    the stream tails from there. Exercised against a table whose early
    log files were deleted by W8 cleanup AND whose history contains a
    delete — full-history replay would hit FileNotFound on version 0
    and trip ST3 on the delete; the snapshot path must not care."""
    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    cfg = {"delta.checkpointInterval": "2",
           "delta.logRetentionDuration": "interval 0 seconds"}
    for v in range(4):                       # versions 0..3
        df = (spark.range(v * 5, (v + 1) * 5)
              .select(F.col("id"), (F.col("id") * 10).alias("val")))
        t.write(df.coalesce(1), mode="append", configuration=cfg)
    from connectors_spark.expressions import Col, Lit
    t.delete(Col("id") < Lit(5))             # version 4: a delete
    df = (spark.range(100, 105)
          .select(F.col("id"), (F.col("id") * 10).alias("val")))
    t.write(df.coalesce(1), mode="append")   # version 5
    import os
    names = os.listdir(os.path.join(str(src), "_delta_log"))
    assert "00000000000000000000.json" not in names  # history really gone

    q = (spark.readStream.format("delta_stream")
         .option("path", str(src)).load()
         .writeStream.format("memory").queryName("t_snap")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from t_snap").collect()
    expect = sorted(r.id for r in t.to_df().collect())
    assert sorted(r.id for r in rows) == expect
    assert {r._commit_version for r in rows} == {5}   # snapshot @ latest

    # tail: a new commit resumes from the persisted offset — only the
    # new version's rows, no snapshot replay
    df = (spark.range(200, 203)
          .select(F.col("id"), (F.col("id") * 10).alias("val")))
    t.write(df.coalesce(1), mode="append")   # version 6
    got: list = []
    q2 = (spark.readStream.format("delta_stream")
          .option("path", str(src)).load()
          .writeStream.foreachBatch(
              lambda df, _bid: got.extend(df.collect()))
          .option("checkpointLocation", str(tmp_path / "ck"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert sorted(r.id for r in got) == [200, 201, 202]
    assert {r._commit_version for r in got} == {6}


def test_fail_on_data_loss_gap_detection(spark, tmp_path):
    """ST1 failOnDataLoss (DeltaLogImpl.getChanges): a version gap from
    expired-log cleanup raises mid-tail unless failOnDataLoss=false,
    which resumes at the first surviving version."""
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    cfg = {"delta.checkpointInterval": "3",
           "delta.logRetentionDuration": "interval 0 seconds"}
    for v in range(4):                       # versions 0..3; 0..2 cleaned
        df = (spark.range(v * 5, (v + 1) * 5)
              .select(F.col("id"), (F.col("id") * 10).alias("val")))
        t.write(df.coalesce(1), mode="append", configuration=cfg)
    import os
    names = os.listdir(os.path.join(str(src), "_delta_log"))
    assert "00000000000000000000.json" not in names

    reader = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "startingversion": "0"})
    with pytest.raises(DeltaError, match="missing from the log"):
        reader.partitions({"version": -1}, {"version": 3})

    reader2 = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "startingversion": "0",
                       "failondataloss": "false"})
    parts = reader2.partitions({"version": -1}, {"version": 3})
    assert {p.version for p in parts} == {3}     # surviving tail only


def test_max_versions_per_batch_tracks_commits(spark, tmp_path):
    """maxVersionsPerBatch is a PER-BATCH cap relative to the last
    committed offset (Flink's per-poll changes cap), not a one-time cap
    at the start position — commit() advances the floor."""
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    _mk_table(spark, src, versions=5)
    r = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "startingversion": "0",
                       "maxversionsperbatch": "2"})
    r.initialOffset()   # fresh query: the engine asks this first
    assert r.latestOffset() == {"version": 1}     # batch 1: versions 0-1
    r.commit({"version": 1})
    assert r.latestOffset() == {"version": 3}     # batch 2: versions 2-3
    r.commit({"version": 3})
    assert r.latestOffset() == {"version": 4}     # batch 3: the tail
    r.commit({"version": 4})
    assert r.latestOffset() == {"version": 4}     # caught up: no change


def test_restart_rate_limit_never_regresses_offset(spark, tmp_path):
    """A RESTARTED reader (no initialOffset call — offsets come from the
    engine checkpoint) must not let maxVersionsPerBatch cap latestOffset
    below the engine's checkpointed offset: the cap is skipped until a
    floor is established from persisted offsets via partitions()."""
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    _mk_table(spark, src, versions=6)
    # Simulate: first run committed through version 4, then restart.
    # The fresh reader only knows startingversion=0; the engine holds
    # checkpointed offset {"version": 4}.
    r = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "startingversion": "0",
                       "maxversionsperbatch": "2"})
    # No initialOffset() on restart: the first poll must NOT return a
    # capped version (0+2=2 < 4 would regress the stream).
    assert r.latestOffset() == {"version": 5}
    # The engine replans the in-flight batch from persisted offsets —
    # this establishes the floor in-process.
    r.partitions({"version": 4}, {"version": 5})
    r.commit({"version": 5})
    assert r.latestOffset() == {"version": 5}     # caught up


def test_restart_snapshot_batch_clamped_to_persisted_end(spark, tmp_path):
    """Replanned snapshot-first batch 0 after a restart: the snapshot
    version comes from min(start, end) of the PERSISTED offsets, not the
    reader's recomputed latest — otherwise rows of versions between the
    persisted end and the new latest are emitted twice (once in the
    replayed snapshot, again as the next batch's tail)."""
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    t = _mk_table(spark, src, versions=3)        # versions 0..2
    r = DeltaVersionStreamReader(StructType(), {"path": str(src)})
    # First run: batch 0 planned as snapshot@2, end {"version": 2}
    # persisted. Restart happens after two MORE commits:
    _mk_table(spark, src, versions=2, rows_per=5)  # now versions 0..4
    r2 = DeltaVersionStreamReader(StructType(), {"path": str(src)})
    assert r2.start_after == 4                   # recomputed at latest
    parts = r2.partitions({"version": 2, "snap": True}, {"version": 2})
    # Snapshot clamped to the persisted end: exactly the files active at
    # version 2, attributed to version 2 — NOT the version-4 snapshot.
    assert parts and all(p.version == 2 for p in parts)
    active_v2 = {r["path"].split("/")[-1]
                 for r in t.log.snapshot_for_version(2)
                 .files_df.select("path").collect()}
    assert {p.file_path.split("/")[-1] for p in parts} == active_v2


def test_streaming_countmin_sketch_maintenance(spark, tmp_path):
    """The CountMin counter relation is additive, so Structured
    Streaming maintains it with a plain update-mode aggregate: after
    the stream drains, the streamed sketch equals a batch rebuild over
    the same rows — the live-ingest counterpart to the batch
    merge test in tests/test_sketches.py."""
    from pyspark.sql import functions as F
    from connectors_spark.ops.sketches import countmin_sketch, _probe_array

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text").limit(200))
    src_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    docs.write.parquet(src_dir)

    from connectors_spark.functions.text import tokens
    stream = (spark.readStream.schema(docs.schema).parquet(src_dir)
              .select(F.explode(tokens("text")).alias("g"))
              .select(F.explode(_probe_array(F.col("g"), "cm", 4, 256))
                      .alias("_p"))
              .groupBy(F.col("_p.j").alias("j"),
                       F.col("_p.bucket").alias("bucket"))
              .agg(F.count(F.lit(1)).alias("c")))
    q = (stream.writeStream.format("memory").queryName("cm_live")
         .outputMode("complete").option("checkpointLocation", ckpt)
         .start())
    q.processAllAvailable()
    q.stop()

    live = {(r.j, r.bucket): r.c
            for r in spark.sql("SELECT * FROM cm_live").collect()}
    batch = {(r.j, r.bucket): r.c
             for r in countmin_sketch(
                 spark.read.parquet(src_dir)
                 .select(F.explode(tokens("text")).alias("g")),
                 "g", depth=4, width=256).collect()}
    assert live == batch


def test_stream_tail_skips_reorg_purge(spark, tmp_path):
    """A continuous reader consuming the tail must treat a REORG PURGE
    commit like OPTIMIZE: no new rows, no delete/changes error even
    without ignore flags (dataChange=False on both sides)."""
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.streaming.changes import (
        validated_adds_per_version)
    from connectors_spark.table import TableMaintenance
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    t.write(spark.range(50).select(F.col("id").alias("k")))
    t.delete(Col("k") < Lit(10), deletion_vectors=True)
    res = TableMaintenance(t).reorg_purge()
    out = validated_adds_per_version(t, res["version"],
                                     allow_initial_changes=False)
    assert out == [(res["version"], [])]


def test_streaming_ingest_dedup_cross_batch(spark, tmp_path):
    """End-to-end streaming curation: a delta-source stream feeds
    foreachBatch(ingest_dedup) into a curated table; duplicate content
    arriving in LATER commits is dropped against the persistent
    fingerprint index, exactly once per distinct content."""
    from connectors_spark.ops import dedup as dd

    src, cur, idx = (str(tmp_path / n) for n in ("src", "cur", "idx"))
    t = DeltaTable.for_path(spark, src)
    mk = lambda i: f"text body number {i} with shared tokens"  # noqa: E731
    t.write(spark.createDataFrame(
        [(i, mk(i)) for i in range(10)], "doc_id long, text string")
        .coalesce(1))
    dd.build_fingerprint_index(
        spark.createDataFrame([], "doc_id long, text string"), idx)

    curated = DeltaTable.for_path(spark, cur)

    def batchfn(df, _bid):
        accepted = dd.ingest_dedup(df.select("doc_id", "text"), idx)
        if accepted.count():
            curated.write(accepted, mode="append")

    def drain():
        q = (spark.readStream.format("delta_stream")
             .option("path", src).load()
             .writeStream.foreachBatch(batchfn)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    assert curated.to_df().count() == 10
    # commit 2: 3 repeats of earlier content + 2 new docs
    t.write(spark.createDataFrame(
        [(100, mk(1)), (101, mk(2)), (102, mk(3)),
         (103, mk(90)), (104, mk(91))],
        "doc_id long, text string").coalesce(1), mode="append")
    drain()
    got = sorted(r.doc_id for r in curated.to_df().collect())
    assert got == list(range(10)) + [103, 104]


def test_sink_auto_compacts_micro_batches(spark, tmp_path):
    """delta.autoOptimize.autoCompact applies to the exactly-once sink:
    many small micro-batches trigger a follow-up OPTIMIZE; replayed
    batch ids still skip; the change feed never sees the compaction."""
    sink = DeltaStreamSink(
        str(tmp_path / "t"), app_id="q1",
        configuration={"delta.autoOptimize.autoCompact": "true",
                       "connectors.autoCompact.minNumFiles": "4"})
    for b in range(5):
        df = spark.range(b * 10, (b + 1) * 10).coalesce(1)
        sink.write_batch(df, b)
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    assert t.snapshot().files_df.count() < 5
    assert "OPTIMIZE" in [h["operation"] for h in t.history()]
    assert sorted(r.id for r in t.to_df().collect()) == list(range(50))
    # replay after compaction is still an idempotent no-op
    v = t.log.snapshot().version
    assert sink.write_batch(spark.range(0, 10).coalesce(1), 2) is None
    assert t.log.snapshot().version == v


def test_max_files_per_trigger_pages_snapshot(spark, tmp_path):
    """maxFilesPerTrigger (VERDICT r7 #3; delta-spark option, Flink
    incremental split assignment): the ST4 initial snapshot is paged
    across >1 microbatch instead of planned as one table-sized batch,
    with exactly-once row totals, and the tail still flows after the
    last page."""
    src = tmp_path / "src"
    t = _mk_table(spark, src, versions=6)        # 6 files, 30 rows
    batches: list = []

    def sink(df, bid):
        batches.append((bid, df.collect()))

    stream = (spark.readStream.format("delta_stream")
              .option("path", str(src))
              .option("maxFilesPerTrigger", "2").load()
              .writeStream.foreachBatch(sink)
              .option("checkpointLocation", str(tmp_path / "ck"))
              .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 90
        while time.time() < deadline and \
                sum(len(r) for _, r in batches) < 30:
            time.sleep(0.5)
        rows = [r for _, rs in batches for r in rs]
        assert sorted(r.id for r in rows) == list(range(30))  # exactly once
        nonempty = [rs for _, rs in batches if rs]
        assert len(nonempty) >= 3            # 6 files / 2 per trigger
        assert max(len(rs) for rs in nonempty) <= 10  # ≤2 files × 5 rows
        # tail after the snapshot pages drain
        t.write(spark.range(100, 103).select(
            F.col("id"), (F.col("id") * 10).alias("val")), mode="append")
        deadline = time.time() + 60
        while time.time() < deadline and \
                sum(len(r) for _, r in batches) < 33:
            time.sleep(0.5)
        tail = [r for _, rs in batches for r in rs if r.id >= 100]
        assert sorted(r.id for r in tail) == [100, 101, 102]
    finally:
        stream.stop()


def test_snapshot_paging_restart_mid_snapshot(spark, tmp_path):
    """A reader restarted mid-snapshot replans the SAME page from the
    persisted offsets (deterministic sorted file order), and an end
    offset with no snap marker plans exactly the remainder — no file
    skipped, none delivered twice."""
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    for v in range(3):                           # snapshot @ v2: 3 files
        t.write(spark.range(v * 5, (v + 1) * 5)
                .select(F.col("id"), (F.col("id") * 10).alias("val"))
                .coalesce(1), mode="append")
    opts = {"path": str(src), "maxfilespertrigger": "1"}
    r = DeltaVersionStreamReader(StructType(), opts)
    o0 = r.initialOffset()
    assert o0 == {"version": 2, "snap": True, "snap_idx": 0}
    o1 = r.latestOffset()
    assert o1 == {"version": 2, "snap": True, "snap_idx": 1}
    p1 = r.partitions(o0, o1)
    assert len(p1) == 1 and p1[0].version == 2
    r.commit(o1)
    o2 = r.latestOffset()
    assert o2 == {"version": 2, "snap": True, "snap_idx": 2}
    p2 = r.partitions(o1, o2)
    assert len(p2) == 1 and p2[0].file_path != p1[0].file_path
    r.commit(o2)
    o3 = r.latestOffset()
    assert o3 == {"version": 2, "snap": True, "snap_idx": 3}
    r.partitions(o2, o3)
    r.commit(o3)
    # snapshot drained: next offset is a plain version (no new commits)
    assert r.latestOffset() == {"version": 2}
    # restart mid-snapshot: a FRESH reader (initialOffset never called)
    # replans page [1,2) identically from the persisted offsets
    r2 = DeltaVersionStreamReader(StructType(), opts)
    p2b = r2.partitions(o1, o2)
    assert [p.file_path for p in p2b] == [p.file_path for p in p2]
    # restart where the engine's next end offset has no snap marker
    # (paging disabled on restart): exactly the remainder files[1:],
    # nothing redelivered from page 1, nothing skipped
    r3 = DeltaVersionStreamReader(StructType(), opts)
    rest = r3.partitions(o1, {"version": 2})
    all_files = {p.file_path for p in p1} | {p.file_path for p in rest}
    assert len(rest) == 2 and p1[0].file_path not in \
        {p.file_path for p in rest}
    assert len(all_files) == 3


def test_snapshot_paging_engine_restart_exactly_once(spark, tmp_path):
    """Stop a paged-snapshot stream mid-snapshot and restart it on the
    same checkpoint: every snapshot row arrives exactly once across the
    two runs (restart replans from persisted offsets; the post-restart
    reader detects the offset shape and finishes the snapshot without
    re-delivering consumed pages)."""
    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    for v in range(6):                           # 6 single-file commits
        t.write(spark.range(v * 5, (v + 1) * 5)
                .select(F.col("id"), (F.col("id") * 10).alias("val"))
                .coalesce(1), mode="append")
    # keyed by batch id: foreachBatch is at-least-once across restarts
    # (the engine re-executes the last WAL'd-but-uncommitted batch with
    # the SAME bid), so an idempotent sink replaces on redelivery —
    # exactly-once then means each ROW lands in exactly one batch id.
    got: dict = {}

    def _rows():
        return [r for rs in got.values() for r in rs]

    def run(stop_after_rows):
        def sink(df, bid):
            got[bid] = df.collect()
            # pace batch turnover so stop() below reliably lands
            # mid-snapshot under suite load (6 pages ≥ 6 s)
            if len(_rows()) < 30:
                time.sleep(1.0)

        stream = (spark.readStream.format("delta_stream")
                  .option("path", str(src))
                  .option("maxFilesPerTrigger", "1").load()
                  .writeStream.foreachBatch(sink)
                  .option("checkpointLocation", str(tmp_path / "ck"))
                  .trigger(processingTime="1 seconds").start())
        try:
            deadline = time.time() + 90
            while time.time() < deadline and len(_rows()) < stop_after_rows:
                time.sleep(0.3)
        finally:
            stream.stop()

    run(stop_after_rows=10)        # interrupt mid-snapshot (≥2 pages in)
    n_first = len(_rows())
    assert 5 <= n_first < 30       # genuinely mid-snapshot
    run(stop_after_rows=30)        # resume on the same checkpoint
    assert sorted(r.id for r in _rows()) == list(range(30))  # exactly once


# ---------------------------------------------------------------------------
# readChangeFeed mode (VERDICT r7 #7): row-level CDF through the
# structured-streaming source — a downstream incremental-view consumer
# can maintain an aggregate continuously from the _change_type feed.

def test_cdf_stream_maintains_incremental_view(spark, tmp_path):
    """DML commits → CDF stream → maintained key→value view equals a
    direct recompute of the final table. Exercises all three plan
    kinds: synthesized inserts (plain appends), physical AddCDCFile
    replay (UPDATE/DELETE under delta.enableChangeDataFeed), and the
    per-version attribution."""
    from pyspark.sql import Row
    from connectors_spark.expressions import Col, Lit

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)]),
            configuration={"delta.enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([Row(k=3, v=30), Row(k=4, v=40)]))

    view: dict = {}
    types_seen: set = set()

    def sink(df, bid):
        # within a version, removals (preimage/delete) apply before
        # upserts so an update nets to its postimage
        for r in sorted(df.collect(),
                        key=lambda r: (r._commit_version,
                                       r._change_type not in
                                       ("delete", "update_preimage"))):
            types_seen.add(r._change_type)
            if r._change_type in ("insert", "update_postimage"):
                view[r.k] = r.v
            elif r._change_type in ("delete", "update_preimage"):
                view.pop(r.k, None)

    stream = (spark.readStream.format("delta_stream")
              .option("path", str(src))
              .option("readChangeFeed", "true")
              .option("startingVersion", "0").load()
              .writeStream.foreachBatch(sink)
              .option("checkpointLocation", str(tmp_path / "ck"))
              .trigger(processingTime="1 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(view) < 4:
            time.sleep(0.5)
        assert view == {1: 10, 2: 20, 3: 30, 4: 40}
        # DML: physical CDC files replayed row-for-row
        t.update({"v": "v + 1"}, Col("k") == Lit(2))
        t.delete(Col("k") == Lit(3))
        deadline = time.time() + 60
        while time.time() < deadline and \
                not (view.get(2) == 21 and 3 not in view):
            time.sleep(0.5)
    finally:
        stream.stop()
    want = {r.k: r.v for r in t.to_df().collect()}
    assert view == want
    assert {"insert", "update_preimage", "update_postimage",
            "delete"} <= types_seen


def test_cdf_stream_synthesizes_without_cdc_files(spark, tmp_path):
    """Tables WITHOUT delta.enableChangeDataFeed still stream changes:
    appends synthesize inserts, a whole-file delete synthesizes
    deletes from the removed parquet (batch-reader rules)."""
    from pyspark.sql import Row
    from connectors_spark.expressions import Col, Lit

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.createDataFrame([Row(k=1, v=10), Row(k=2, v=20)])
            .coalesce(1))
    t.write(spark.createDataFrame([Row(k=5, v=50)]).coalesce(1))
    t.delete(Col("k") == Lit(5))           # drops v1's whole file
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src))
         .option("readChangeFeed", "true")
         .option("startingVersion", "0").load()
         .writeStream.format("memory").queryName("t_cdf_synth")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.k, r.v, r._change_type, r._commit_version)
           for r in spark.sql("select * from t_cdf_synth").collect()}
    assert got == {(1, 10, "insert", 0), (2, 20, "insert", 0),
                   (5, 50, "insert", 1), (5, 50, "delete", 2)}


def test_stream_snapshot_applies_deletion_vectors(spark, tmp_path):
    """The ST4 initial snapshot must not redeliver DV-deleted rows:
    files stream their LIVE rows under the active deletion vector."""
    from pyspark.sql import Row
    from connectors_spark.expressions import Col, Lit

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.createDataFrame(
        [Row(k=i, v=i * 10) for i in range(8)]).coalesce(1))
    t.delete(Col("k") < Lit(3), deletion_vectors=True)
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src)).load()     # default: snapshot-first
         .writeStream.format("memory").queryName("t_dv_snap")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.sql(
        "select * from t_dv_snap").collect())
    assert got == [3, 4, 5, 6, 7]


def test_max_bytes_per_trigger_pages_snapshot(spark, tmp_path):
    """maxBytesPerTrigger (delta-spark option): snapshot pages end when
    the cumulative file size reaches the cap — soft max, never fewer
    than one file — and compose with maxFilesPerTrigger (whichever
    limit binds first)."""
    from pyspark.sql.types import StructType

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    for v in range(4):                           # 4 one-file commits
        t.write(spark.range(v * 5, (v + 1) * 5)
                .select(F.col("id"), (F.col("id") * 10).alias("val"))
                .coalesce(1), mode="append")
    files = sorted(t.snapshot().all_files(), key=lambda a: a.path)
    sizes = [f.size for f in files]
    assert all(s > 0 for s in sizes)
    # cap = 1.5 files' worth: soft max -> 2 files per page
    cap = sizes[0] + sizes[1] // 2
    opts = {"path": str(src), "maxbytespertrigger": str(cap)}
    r = DeltaVersionStreamReader(StructType(), opts)
    o0 = r.initialOffset()
    assert o0 == {"version": 3, "snap": True, "snap_idx": 0}
    o1 = r.latestOffset()
    assert o1["snap_idx"] == 2          # sizes[0] < cap <= sizes[0:2]
    r.partitions(o0, o1)
    r.commit(o1)
    o2 = r.latestOffset()
    assert o2["snap_idx"] == 4
    r.partitions(o1, o2)
    r.commit(o2)
    assert r.latestOffset() == {"version": 3}
    # a cap below one file still takes one file per page (never stalls)
    r2 = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "maxbytespertrigger": "1"})
    r2.initialOffset()
    assert r2.latestOffset()["snap_idx"] == 1
    # composed: byte cap would allow 2 files, file cap binds at 1
    r3 = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "maxbytespertrigger": str(cap),
                       "maxfilespertrigger": "1"})
    r3.initialOffset()
    assert r3.latestOffset()["snap_idx"] == 1


def test_max_bytes_per_trigger_accepts_size_suffixes(spark, tmp_path):
    from pyspark.sql.types import StructType

    from connectors_spark.errors import DeltaError
    from connectors_spark.streaming.source import _parse_bytes

    assert _parse_bytes("1500", "x") == 1500
    assert _parse_bytes("10m", "x") == 10 << 20
    assert _parse_bytes("1g", "x") == 1 << 30
    assert _parse_bytes("2KB", "x") == 2048
    with pytest.raises(DeltaError, match="maxBytesPerTrigger"):
        _parse_bytes("lots", "maxBytesPerTrigger")
    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.range(3).select(F.col("id"),
                                  (F.col("id") * 2).alias("val")),
            mode="append")
    r = DeltaVersionStreamReader(
        StructType(), {"path": str(src), "maxbytespertrigger": "1m"})
    assert r.max_bytes == 1 << 20


def test_non_positive_rate_limits_rejected(spark, tmp_path):
    """ADVICE r8: a non-positive maxFilesPerTrigger makes the snapshot
    page slice run backwards — the stream stalls silently instead of
    erroring. delta-spark rejects non-positive rate-limit options at
    parse time (DeltaOptions); so do we, for all three."""
    from pyspark.sql.types import StructType

    from connectors_spark.errors import DeltaError

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.range(3).select(F.col("id"),
                                  (F.col("id") * 2).alias("val")),
            mode="append")
    for key, bad, name in [
            ("maxfilespertrigger", "0", "maxFilesPerTrigger"),
            ("maxfilespertrigger", "-5", "maxFilesPerTrigger"),
            ("maxbytespertrigger", "0", "maxBytesPerTrigger"),
            ("maxbytespertrigger", "-1k", "maxBytesPerTrigger"),
            ("maxversionsperbatch", "0", "maxVersionsPerBatch"),
            ("maxversionsperbatch", "-2", "maxVersionsPerBatch")]:
        with pytest.raises(DeltaError, match=name):
            DeltaVersionStreamReader(
                StructType(), {"path": str(src), key: bad})
    # absent options still mean "unbounded", not an error
    r = DeltaVersionStreamReader(StructType(), {"path": str(src)})
    assert (r.max_files, r.max_bytes, r.max_versions) == (
        None, None, None)


def test_dv_mask_vectorized_multi_file_sidecar(spark, tmp_path):
    """_dv_mask unit check (ADVICE r8 rewrite to vectorized Arrow
    compute): a sidecar shared by several files must apply only THIS
    file's deleted positions, out-of-range indices are ignored, and
    the partition's physical path matches the sidecar's."""
    from pyspark.sql import Row
    from pyspark.sql.types import StructType
    from connectors_spark.expressions import Col, Lit

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    # two one-file commits so one DV delete touches two files
    t.write(spark.createDataFrame(
        [Row(k=i, v=i * 10) for i in range(6)]).coalesce(1))
    t.write(spark.createDataFrame(
        [Row(k=i, v=i * 10) for i in range(6, 12)]).coalesce(1),
        mode="append")
    t.delete((Col("k") == Lit(1)) | (Col("k") == Lit(7)),
             deletion_vectors=True)
    snap = t.snapshot()
    dv_files = [f for f in snap.all_files()
                if (f.tags or {}).get("deletionVector")]
    assert len(dv_files) == 2            # both files carry the DV tag
    r = DeltaVersionStreamReader(StructType(), {"path": str(src)})
    from connectors_spark.streaming.source import DeltaFilePartition
    masks = {}
    for f in dv_files:
        part = DeltaFilePartition(
            f.path, 0, {}, kind="insert",
            dv_rel=(f.tags or {}).get("deletionVector"))
        masks[f.path] = r._dv_mask(part, 6)
    # exactly one row masked per file (not both files' rows)
    assert sorted(int(m.sum()) for m in masks.values()) == [5, 5]
    # streamed snapshot agrees end-to-end
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src)).load()
         .writeStream.format("memory").queryName("t_dv_vec")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.sql(
        "select * from t_dv_vec").collect())
    assert got == [0, 2, 3, 4, 5, 6, 8, 9, 10, 11]


def test_streaming_ingest_neardup_cross_batch(spark, tmp_path):
    """Streaming NEAR-dup curation — the fuzzy sibling of the
    fingerprint test above: a delta-source stream feeds
    foreachBatch(ingest_neardup) so paraphrased repeats arriving in
    later commits are rejected against the persistent minhash index
    (history text never re-read), while genuinely new docs land and
    extend the index."""
    from connectors_spark.ops import dedup as dd

    src, cur, idx = (str(tmp_path / n) for n in ("src", "cur", "idx"))
    t = DeltaTable.for_path(spark, src)

    def mk(i, tail="original closing words"):
        return (" ".join(f"body{i} tok{j}" for j in range(6))
                + " " + tail)

    t.write(spark.createDataFrame(
        [(i, mk(i)) for i in range(6)], "doc_id long, text string")
        .coalesce(1))
    dd.build_minhash_index(
        spark.createDataFrame([], "doc_id long, text string"), idx)
    curated = DeltaTable.for_path(spark, cur)

    def batchfn(df, _bid):
        accepted = dd.ingest_neardup(df.select("doc_id", "text"), idx,
                                     threshold=0.5)
        if accepted.count():
            curated.write(accepted.select("doc_id", "text"),
                          mode="append")

    def drain():
        q = (spark.readStream.format("delta_stream")
             .option("path", src).load()
             .writeStream.foreachBatch(batchfn)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    assert curated.to_df().count() == 6
    # commit 2: two PARAPHRASES of historical docs (one word changed —
    # high Jaccard, not exact) + one genuinely new doc
    t.write(spark.createDataFrame(
        [(100, mk(1, tail="original closing terms")),
         (101, mk(3, tail="original closing remarks")),
         (102, " ".join(f"fresh{j} unseen{j}" for j in range(8)))],
        "doc_id long, text string").coalesce(1), mode="append")
    drain()
    got = sorted(r.doc_id for r in curated.to_df().collect())
    assert got == list(range(6)) + [102]
    # commit 3: near-dup of the doc accepted IN COMMIT 2 — rejected
    # against the index rows that batch appended
    t.write(spark.createDataFrame(
        [(200, " ".join(f"fresh{j} unseen{j}" for j in range(8))
          + " extra")],
        "doc_id long, text string").coalesce(1), mode="append")
    drain()
    assert sorted(r.doc_id for r in curated.to_df().collect()) == \
        list(range(6)) + [102]


def test_sink_schema_merge_preserves_generated_metadata(spark, tmp_path):
    """The sink's merge_schema path routes through _make_metadata, so
    an evolving micro-batch must not strip delta.generationExpression
    (ADVICE r9 #1's second site)."""
    from pyspark.sql import Row

    from connectors_spark.streaming.sink import DeltaStreamSink
    from connectors_spark.table import DeltaTable, _GEN_KEY

    path = str(tmp_path / "sinkgen")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.createDataFrame([Row(k=1)]),
            generated_columns={"k2": ("int", "k * 2")})
    sink = DeltaStreamSink(path, app_id="s1", merge_schema=True)
    sink.write_batch(spark.createDataFrame([Row(k=5, extra="x")]), 0)
    meta = t.snapshot().metadata
    md = {f.name: (f.metadata or {}) for f in meta.schema.fields}
    assert md["k2"].get(_GEN_KEY) == "k * 2"
    assert "extra" in md
    rows = {r.k: r.k2 for r in t.to_df().collect()}
    assert rows == {1: 2, 5: 10}
    # invariant still enforced on the next batch
    import pytest as _pytest

    from connectors_spark.errors import DeltaError
    with _pytest.raises(DeltaError, match="generated column"):
        sink.write_batch(
            spark.createDataFrame([Row(k=7, k2=999, extra="y")]), 1)


def test_stream_with_row_ids(spark, tmp_path):
    # withRowIds: the stream's _row_id/_row_commit_version equal the
    # batch reader's for the snapshot, and fresh appends continue from
    # the watermark.
    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 10).alias("val")),
        configuration={"delta.enableRowTracking": "true"})
    t.write(spark.range(40, 60).select(
        F.col("id"), (F.col("id") * 10).alias("val")), mode="append")
    t.delete(Col("id") < Lit(5), deletion_vectors=True)
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src))
         .option("withRowIds", "true").load()
         .writeStream.format("memory").queryName("rid_snap")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in spark.sql("select * from rid_snap").collect()}
    batch = {r["id"]: (r["_row_id"], r["_row_commit_version"])
             for r in t.to_df(with_row_ids=True).collect()}
    assert stream == batch
    assert len(stream) == 55


def test_stream_row_ids_requires_tracking(spark, tmp_path):
    from connectors_spark.errors import DeltaError
    src = tmp_path / "src"
    _mk_table(spark, src, versions=1)
    with pytest.raises(Exception, match="enableRowTracking"):
        q = (spark.readStream.format("delta_stream")
             .option("path", str(src))
             .option("withRowIds", "true").load()
             .writeStream.format("memory").queryName("rid_err")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
