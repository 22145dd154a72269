"""Golden-table scenario parity (SURVEY §5, FIXTURES.md F1-F9): the
reference's data-decode and log-correctness fixtures regenerated with
our own writer and asserted on read — same scenarios, our substrate.

Reference: golden-tables/src/test/scala/io/delta/golden/GoldenTables.scala
(cites per test)."""

from __future__ import annotations

import datetime as dt
import time
from decimal import Decimal

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from connectors_spark import DeltaTable
from connectors_spark.errors import DeltaError
from connectors_spark.expressions import Col, Lit


def _t(spark, tmp_path, name="t"):
    return DeltaTable.for_path(spark, str(tmp_path / name))


# ---------------------------------------------------------------- F1

def test_primitives_roundtrip(spark, tmp_path):
    """GoldenTables.scala:509-533 (data-reader-primitives)."""
    schema = T.StructType([
        T.StructField("as_int", T.IntegerType()),
        T.StructField("as_long", T.LongType()),
        T.StructField("as_byte", T.ByteType()),
        T.StructField("as_short", T.ShortType()),
        T.StructField("as_boolean", T.BooleanType()),
        T.StructField("as_float", T.FloatType()),
        T.StructField("as_double", T.DoubleType()),
        T.StructField("as_string", T.StringType()),
        T.StructField("as_binary", T.BinaryType()),
        T.StructField("as_big_decimal", T.DecimalType(1, 0)),
    ])
    rows = [(i, i, i, i, i % 2 == 0, float(i), float(i), str(i),
             bytes([i]), Decimal(i)) for i in range(10)]
    rows.append(tuple([None] * 10))
    df = spark.createDataFrame(rows, schema)
    t = _t(spark, tmp_path)
    t.write(df)
    got = t.to_df()
    assert got.schema == schema
    back = sorted(got.collect(),
                  key=lambda r: (r.as_int is None, r.as_int))
    assert back[0].as_binary == b"\x00" and back[9].as_big_decimal == Decimal(9)
    assert all(v is None for v in back[-1])


# ---------------------------------------------------------------- F2

def test_partition_values_typed_decode(spark, tmp_path):
    """GoldenTables.scala:536-590: every partitionable type as partition
    column, incl. an all-NULL partition tuple; values decode from the
    LOG strings to schema types (PartitionRowRecord.scala:66-160)."""
    schema = T.StructType([
        T.StructField("as_int", T.IntegerType()),
        T.StructField("as_long", T.LongType()),
        T.StructField("as_boolean", T.BooleanType()),
        T.StructField("as_float", T.FloatType()),
        T.StructField("as_double", T.DoubleType()),
        T.StructField("as_string", T.StringType()),
        T.StructField("as_date", T.DateType()),
        T.StructField("as_timestamp", T.TimestampType()),
        T.StructField("as_big_decimal", T.DecimalType(1, 0)),
        T.StructField("value", T.StringType()),
    ])
    pcols = [f.name for f in schema.fields[:-1]]
    rows = [(i, i, i % 2 == 0, float(i), float(i), str(i),
             dt.date(2021, 1, 1 + i),
             dt.datetime(2021, 1, 1, 8, 9, 10 + i),
             Decimal(i), f"v{i}") for i in range(3)]
    rows.append(tuple([None] * 9 + ["vnull"]))
    df = spark.createDataFrame(rows, schema)
    t = _t(spark, tmp_path)
    t.write(df, partition_by=pcols)
    got = t.to_df()
    assert got.schema == schema
    back = {r.value: r for r in got.collect()}
    assert back["v1"].as_date == dt.date(2021, 1, 2)
    assert back["v1"].as_timestamp == dt.datetime(2021, 1, 1, 8, 9, 11)
    assert back["v1"].as_big_decimal == Decimal(1)
    assert back["v1"].as_float == 1.0 and back["v1"].as_boolean is False
    assert all(back["vnull"][c] is None for c in pcols)
    # typed predicate over decoded partition values prunes files
    scan = t.scan(Col("as_date") == Lit(dt.date(2021, 1, 2)))
    assert scan.files().count() == 1
    assert [r.value for r in scan.to_df().collect()] == ["v1"]


# ---------------------------------------------------------- F3/F4/F5/F6

def test_nested_types_roundtrip(spark, tmp_path):
    """GoldenTables.scala:612-710: arrays of primitives, deep lists,
    list-of-maps, maps, nested structs."""
    schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("as_array_int", T.ArrayType(T.IntegerType())),
        T.StructField("as_array_binary", T.ArrayType(T.BinaryType())),
        T.StructField("as_array_decimal",
                      T.ArrayType(T.DecimalType(1, 0))),
        T.StructField("threed",
                      T.ArrayType(T.ArrayType(T.ArrayType(T.IntegerType())))),
        T.StructField("list_of_maps",
                      T.ArrayType(T.MapType(T.StringType(), T.LongType()))),
        T.StructField("list_of_records", T.ArrayType(
            T.StructType([T.StructField("val", T.IntegerType())]))),
        T.StructField("m_int", T.MapType(T.IntegerType(), T.IntegerType())),
        T.StructField("m_str_dec",
                      T.MapType(T.StringType(), T.DecimalType(1, 0))),
        T.StructField("a", T.StructType([
            T.StructField("aa", T.StringType()),
            T.StructField("ab", T.StringType()),
            T.StructField("ac", T.StructType([
                T.StructField("aca", T.IntegerType()),
                T.StructField("acb", T.LongType()),
            ]))])),
    ])
    rows = [(i,
             [i, i + 1],
             [bytes([i])],
             [Decimal(i % 10)],
             [[[i], [i + 1]], [[i + 2]]],
             [{"k": i}, {"j": i + 1}],
             [Row(val=i)],
             {i: i * 2},
             {"d": Decimal(i % 10)},
             Row(aa=f"aa{i}", ab=None, ac=Row(aca=i, acb=i * 10)))
            for i in range(10)]
    df = spark.createDataFrame(rows, schema)
    t = _t(spark, tmp_path)
    t.write(df)
    got = t.to_df()
    assert got.schema == schema
    back = {r.i: r for r in got.collect()}
    assert back[3].threed == [[[3], [4]], [[5]]]
    assert back[3].list_of_maps == [{"k": 3}, {"j": 4}]
    assert back[3].m_int == {3: 6}
    assert back[3].a.ac.acb == 30
    assert back[3].as_array_binary == [b"\x03"]


# ---------------------------------------------------------------- F7

def test_timestamp_instant_preserved_across_session_timezones(spark,
                                                              tmp_path):
    """GoldenTables.scala:593-609 (data-reader-date-types-*): timestamps
    written under one zone must denote the same instant read under
    any session timezone (DeltaLogImpl.timezone ≍
    spark.sql.session.timeZone)."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.createDataFrame(
            [(dt.datetime(2020, 1, 1, 8, 9, 10), dt.date(2020, 1, 1))],
            "ts: timestamp, d: date")
        t = _t(spark, tmp_path)
        t.write(df)
        ref = t.to_df().select(F.unix_micros("ts").alias("us"),
                               "d").first()
        for tz in ["UTC", "Iceland", "PST", "America/Los_Angeles",
                   "Etc/GMT+9", "Asia/Beirut", "JST"]:
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = t.to_df().select(F.unix_micros("ts").alias("us"),
                                   "d").first()
            assert got.us == ref.us, tz       # same instant
            assert got.d == dt.date(2020, 1, 1), tz  # dates are tz-free
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_date_types_written_under_each_reference_timezone(spark, tmp_path):
    """GoldenTables.scala:593-609 full matrix: the reference generates
    data-reader-date-types-<tz> by WRITING under each of seven JVM
    default zones (UTC, Iceland, PST, America/Los_Angeles, Etc/GMT+9,
    Asia/Beirut, JST) and asserts the reader recovers the same local
    wall-clock value. Our analogue: write '2020-01-01 08:09:10' with the
    session timezone set to each zone (so the stored instant differs per
    zone), then (a) reading under the SAME zone recovers the wall-clock
    value, (b) the stored instant equals that wall-clock interpreted in
    the writer zone, for every reader zone, and (c) dates are
    timezone-free everywhere."""
    import zoneinfo

    zones = ["UTC", "Iceland", "PST", "America/Los_Angeles",
             "Etc/GMT+9", "Asia/Beirut", "JST"]
    # Spark resolves the legacy short ids through ZoneId.SHORT_IDS.
    iana = {"PST": "America/Los_Angeles", "JST": "Asia/Tokyo"}
    wall = dt.datetime(2020, 1, 1, 8, 9, 10)
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        for wtz in zones:
            spark.conf.set("spark.sql.session.timeZone", wtz)
            # to_timestamp parses the wall clock under the SESSION zone
            # (createDataFrame with a naive datetime would not), which
            # matches the reference's Timestamp.valueOf under a changed
            # JVM default zone.
            df = spark.sql(
                "SELECT to_timestamp('2020-01-01 08:09:10') AS ts, "
                "date'2020-01-01' AS d")
            t = _t(spark, tmp_path / f"tz_{wtz.replace('/', '_')}")
            t.write(df)
            zone = zoneinfo.ZoneInfo(iana.get(wtz, wtz))
            expect_us = int(wall.replace(tzinfo=zone).timestamp()) * 10**6
            for rtz in zones:
                spark.conf.set("spark.sql.session.timeZone", rtz)
                got = t.to_df().select(
                    F.unix_micros("ts").alias("us"),
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("w"),
                    "d").first()
                assert got.us == expect_us, (wtz, rtz)      # same instant
                assert got.d == dt.date(2020, 1, 1), (wtz, rtz)
                if rtz == wtz:
                    # same-zone read recovers the written wall clock —
                    # the reference suite's actual assertion
                    assert got.w == "2020-01-01 08:09:10", wtz
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_reader_iterates_200_file_table(spark, tmp_path):
    """GoldenTables.scala:737-748 (#125) at multi-file width: the reader
    must hand EVERY active file to the scan — a 200-file table (written
    as one commit of 200 single-row partitions plus appended empty
    commits) reads back complete, with per-file pruning still exact."""
    t = _t(spark, tmp_path)
    # range(..., numPartitions=200) pins exactly one row per input
    # partition with NO shuffle — a round-robin repartition(200) leaves
    # some buckets empty (empty write tasks emit no file) and AQE
    # coalesces, either of which would undercut the 200-file target.
    df = (spark.range(0, 200, 1, 200)
          .select(F.col("id").cast("int").alias("col1")))
    t.write(df)
    # Empty trailing append: may land a zero-row parquet file, the
    # exact empty-file-iteration hazard of reference bug #125.
    t.write(spark.range(0).select(F.col("id").cast("int").alias("col1")),
            mode="append")
    snap = t.snapshot()
    assert len(snap._files_rows) >= 200
    got = t.to_df()
    assert got.count() == 200
    assert got.agg(F.sum("col1")).first()[0] == sum(range(200))
    scan = t.scan(Col("col1") == Lit(137))
    assert [r.col1 for r in scan.to_df().collect()] == [137]


# ---------------------------------------------------------------- F8

def test_escaped_chars_partition_values(spark, tmp_path):
    """GoldenTables.scala:721-727: partition values with URL-unsafe
    chars; values must come from the log, never parsed from paths
    (DeltaInputFormat.scala:41-43)."""
    vals = ["bar+%21", "bar+%22", "bar+%23", "a b/c=d"]
    df = spark.createDataFrame([(f"foo{i}", v) for i, v in enumerate(vals)],
                               "_1: string, _2: string")
    t = _t(spark, tmp_path)
    t.write(df, partition_by=["_2"])
    got = t.to_df()
    assert sorted(r._2 for r in got.collect()) == sorted(vals)
    scan = t.scan(Col("_2") == Lit("bar+%21"))
    assert [r._1 for r in scan.to_df().collect()] == ["foo0"]
    assert scan.files().count() == 1


def test_decimal_decode_large(spark, tmp_path):
    """GoldenTables.scala:730-735 (reference bug #124)."""
    df = spark.createDataFrame([(Decimal(1000000),)],
                               T.StructType([T.StructField(
                                   "large_decimal", T.DecimalType(10, 0))]))
    t = _t(spark, tmp_path)
    t.write(df)
    assert t.to_df().first().large_decimal == Decimal(1000000)


def test_empty_file_commits_skipped(spark, tmp_path):
    """GoldenTables.scala:737-748 (reference bug #125): commit sizes
    [0,1,1,0,1,0,0,1,0,0,0,1] — empty commits must not break reads."""
    sizes = [0, 1, 1, 0, 1, 0, 0, 1, 0, 0, 0, 1]
    t = _t(spark, tmp_path)
    n = 0
    for i, s in enumerate(sizes):
        df = spark.range(i, i + s).select(F.col("id").cast("int").alias("col1"))
        t.write(df, mode="append")
        n += s
    got = t.to_df()
    assert got.count() == n
    assert t.snapshot().version == len(sizes) - 1


# ---------------------------------------------------------------- F9

def test_delete_re_add_same_file(spark, tmp_path):
    """GoldenTables.scala:231-249: a path removed then re-added in a
    later transaction is ACTIVE (last action per path wins)."""
    t = _t(spark, tmp_path)
    t.write(spark.range(5).select(F.col("id").cast("int").alias("x")))
    snap = t.snapshot()
    adds = snap.all_files()
    assert len(adds) >= 1
    victim = adds[0]
    now = int(time.time() * 1000)
    txn = t.log.start_transaction()
    txn.commit([victim.remove(now)], "DELETE", {})
    txn2 = t.log.start_transaction()
    txn2.commit([victim], "WRITE", {})
    paths = [r.path for r in t.snapshot()._files_rows]
    assert sum(1 for p in paths if p.endswith(victim.path.split("/")[-1])) == 1
    assert t.to_df().count() == 5


def test_versions_not_contiguous_raises(spark, tmp_path):
    """GoldenTables.scala:251-267: a gap in delta versions must fail
    (SnapshotManagement.verifyDeltaVersions:294-300)."""
    import os
    t = _t(spark, tmp_path)
    for i in range(3):
        t.write(spark.range(i, i + 1).select(F.col("id").alias("x")),
                mode="append")
    os.remove(str(tmp_path / "t" / "_delta_log" /
                  ("%020d.json" % 1)))
    from connectors_spark.table import DeltaLog
    DeltaLog._cache.clear() if hasattr(DeltaLog, "_cache") else None
    fresh = DeltaTable.for_path(spark, str(tmp_path / "t"))
    with pytest.raises((DeltaError, ValueError)):
        fresh.log.update()
        fresh.to_df().count()


def test_log_without_metadata_raises(spark, tmp_path):
    """GoldenTables.scala:269-338: state reconstruction without a
    Metadata action must throw."""
    import os
    d = tmp_path / "raw"
    (d / "_delta_log").mkdir(parents=True)
    from connectors_spark.log.actions import AddFile, Protocol, to_json_line
    lines = [to_json_line(Protocol(1, 2)),
             to_json_line(AddFile(path="f.parquet", partitionValues={},
                                  size=1, modificationTime=0,
                                  dataChange=True))]
    with open(d / "_delta_log" / ("%020d.json" % 0), "w") as fh:
        fh.write("\n".join(lines))
    t = DeltaTable.for_path(spark, str(d))
    with pytest.raises((DeltaError, ValueError)):
        t.snapshot().metadata


def test_corrupted_last_checkpoint_recovers(spark, tmp_path):
    """Golden ``corrupted-last-checkpoint``: a corrupt (or partially
    written) _last_checkpoint hint is non-fatal — the reader falls back
    to a full listing and the table stays completely readable
    (Checkpoints.scala:140-151)."""
    import os

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    cfg = {"delta.checkpointInterval": "3"}
    for i in range(5):
        t.write(spark.range(i * 10, (i + 1) * 10).toDF("id"),
                mode="append", configuration=cfg)
    lc = os.path.join(path, "_delta_log", "_last_checkpoint")
    assert os.path.exists(lc)
    with open(lc, "w") as f:
        f.write("{not json at all")
    t2 = DeltaTable.for_path(spark, path)
    t2.log._snapshot = None            # force re-list past any cache
    assert t2.to_df().count() == 50
    assert t2.snapshot().version == 4


def test_invalid_protocol_version_raises(spark, tmp_path):
    """Golden ``deltalog-invalid-protocol-version``: a table whose
    Protocol demands a newer reader than we support must refuse to read
    (DeltaLogImpl.assertProtocolRead, W9)."""
    from connectors_spark.log.actions import AddFile, Metadata, Protocol
    from connectors_spark.table import DeltaLog

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(0, 5).toDF("id"))
    log = DeltaLog.for_table(spark, path)
    txn = log.start_transaction()
    with pytest.raises(Exception):
        # our writer refuses to WRITE an unsupported protocol...
        txn.commit([Protocol(minReaderVersion=99, minWriterVersion=99)],
                   "UPGRADE")
    # ...so forge the log file directly, as the golden table does
    import json as _json
    import os
    v = log.snapshot().version + 1
    target = os.path.join(path, "_delta_log", f"{v:020d}.json")
    with open(target, "w") as f:
        f.write(_json.dumps({"protocol": {"minReaderVersion": 99,
                                          "minWriterVersion": 99}}) + "\n")
    t2 = DeltaTable.for_path(spark, path)
    t2.log._snapshot = None
    with pytest.raises(ValueError, match="protocol"):
        t2.snapshot().metadata


def test_checkpoint_missing_metadata_raises(spark, tmp_path):
    """Golden ``deltalog-state-reconstruction-from-checkpoint-missing-
    metadata``: a checkpoint that lost its Metadata row (and deltas that
    never carried one) must fail loudly, not return a ghost table."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    cfg = {"delta.checkpointInterval": "2"}
    for i in range(3):
        t.write(spark.range(i * 10, (i + 1) * 10).toDF("id"),
                mode="append", configuration=cfg)
    log_dir = os.path.join(path, "_delta_log")
    ckpts = [n for n in os.listdir(log_dir) if ".checkpoint" in n]
    assert ckpts
    # strip the metaData rows out of the checkpoint, delete the deltas
    # that carried Metadata (only version 0 does)
    for n in ckpts:
        full = os.path.join(log_dir, n)
        tbl = pq.read_table(full)
        mask = [m is None or m.get("id") is None
                for m in tbl.column("metaData").to_pylist()]
        import pyarrow.compute as pc
        import pyarrow as pa
        pq.write_table(tbl.filter(pa.array(mask)), full)
    os.remove(os.path.join(log_dir, "00000000000000000000.json"))
    t2 = DeltaTable.for_path(spark, path)
    t2.log._snapshot = None
    with pytest.raises(ValueError, match="protocol/metadata"):
        t2.snapshot().metadata


def test_time_travel_schema_changes(spark, tmp_path):
    """Golden ``time-travel-schema-changes-a/b``: a snapshot at an older
    version exposes THAT version's schema and data, not the current one
    — Metadata is versioned state like files are."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(0, 5).toDF("id"))                      # v0
    t.write(spark.range(5, 10).select(
        F.col("id"),
        F.when(F.col("id") >= 0, F.lit("x")).alias("extra")),
        mode="append")                                         # v1
    # (append with a wider schema evolves Metadata under the
    # write-compatibility rules — the new column must be nullable,
    # which the plain non-null lit() is not)
    cur = t.to_df()
    assert set(cur.columns) == {"id", "extra"}
    old = t.to_df(version=0)
    assert old.columns == ["id"]
    assert old.count() == 5
    snap0 = t.log.snapshot_for_version(0)
    assert [f.name for f in snap0.metadata.schema.fields] == ["id"]


def test_partition_value_codec_roundtrip():
    """Property: encode→decode is identity for every partition-able type
    (PartitionRowRecord.scala:41-160's cast table), including the
    characters the escaped-chars golden tables exercise."""
    import datetime as dt
    from decimal import Decimal

    from hypothesis import given, settings, strategies as st
    from pyspark.sql import types as T

    from connectors_spark.partition_values import decode, encode

    cases = st.one_of(
        st.tuples(st.just(T.StringType()), st.text(
            alphabet=st.characters(codec="utf-8",
                                   exclude_characters="\x00"),
            max_size=40)),
        st.tuples(st.just(T.LongType()),
                  st.integers(-2**63, 2**63 - 1)),
        st.tuples(st.just(T.IntegerType()), st.integers(-2**31, 2**31 - 1)),
        st.tuples(st.just(T.BooleanType()), st.booleans()),
        st.tuples(st.just(T.DateType()),
                  st.dates(dt.date(1, 1, 1), dt.date(9999, 12, 31))),
        st.tuples(st.just(T.DecimalType(18, 4)),
                  st.decimals(allow_nan=False, allow_infinity=False,
                              places=4, min_value=Decimal("-1e13"),
                              max_value=Decimal("1e13"))),
    )

    @settings(max_examples=300, deadline=None)
    @given(cases)
    def check(case):
        dtype, value = case
        assert decode(encode(value), dtype) == value
        assert decode(encode(None), dtype) is None

    check()


def test_add_relative_remove_absolute_resolves(spark, tmp_path):
    """DeltaLogSuite 'paths should be canonicalized': an AddFile written
    with a table-relative path must be tombstoned by a RemoveFile whose
    path is the absolute file: URI of the same file (and vice versa) —
    replay keys on the CANONICAL path (SnapshotImpl.scala:349-362)."""
    from connectors_spark.log.actions import AddFile, RemoveFile

    import json
    import os

    t = _t(spark, tmp_path)
    t.write(spark.range(5).select(F.col("id").cast("int").alias("x")))
    adds = t.snapshot().all_files()
    # the log stores table-relative paths (check the raw v0 JSON); the
    # reconstruction canonicalizes to absolute
    with open(os.path.join(str(tmp_path / "t"), "_delta_log",
                           "%020d.json" % 0)) as f:
        raw_adds = [json.loads(l)["add"]["path"] for l in f
                    if '"add"' in l]
    assert raw_adds and all(not p.startswith("/") for p in raw_adds)
    victim = adds[0]
    abs_uri = "file:" + victim.path
    txn = t.log.start_transaction()
    txn.commit([RemoveFile(path=abs_uri,
                           deletionTimestamp=int(time.time() * 1000),
                           dataChange=True)], "DELETE", {})
    assert len(t.snapshot()._files_rows) == len(adds) - 1

    # reverse direction: absolute add, relative remove
    t2 = _t(spark, tmp_path, "t2")
    t2.write(spark.range(3).select(F.col("id").cast("int").alias("x")))
    fresh = t2.snapshot().all_files()[0]
    ghost_rel = "ghost-part.parquet"
    ghost_abs = "file:" + t2.log.table_path.rstrip("/") + "/" + ghost_rel
    txn = t2.log.start_transaction()
    txn.commit([AddFile(path=ghost_abs, partitionValues={}, size=1,
                        modificationTime=1, dataChange=True)], "WRITE", {})
    n_after_add = len(t2.snapshot()._files_rows)
    txn = t2.log.start_transaction()
    txn.commit([RemoveFile(path=ghost_rel,
                           deletionTimestamp=int(time.time() * 1000),
                           dataChange=True)], "DELETE", {})
    assert len(t2.snapshot()._files_rows) == n_after_add - 1
    assert fresh.path.split("/")[-1] in {
        r.path.split("/")[-1] for r in t2.snapshot()._files_rows}


def test_snapshot_ignores_pre_checkpoint_deltas(spark, tmp_path):
    """DeltaLogSuite 'update shouldn't pick up delta files earlier than
    checkpoint': once a checkpoint exists, loading the snapshot must
    never read the delta JSONs it subsumes — corrupt every
    pre-checkpoint JSON and the table must still load correctly
    (SnapshotManagement.scala:116-214 bounded-replay contract)."""
    import os
    from connectors_spark import table as table_mod

    t = _t(spark, tmp_path)
    for i in range(12):
        t.write(spark.range(i, i + 1).select(F.col("id").alias("x")),
                mode="append")
    log_dir = str(tmp_path / "t" / "_delta_log")
    ckpts = [f for f in os.listdir(log_dir) if "checkpoint" in f
             and f.endswith(".parquet")]
    assert ckpts, "expected an auto-checkpoint after 12 commits"
    ckpt_v = max(int(f.split(".")[0]) for f in ckpts)
    for v in range(ckpt_v):
        with open(os.path.join(log_dir, "%020d.json" % v), "w") as f:
            f.write("THIS IS NOT JSON\n")
    table_mod._log_cache.clear()
    fresh = DeltaTable.for_path(spark, str(tmp_path / "t"))
    assert fresh.to_df().count() == 12


def test_write_requires_partition_columns_in_schema(spark, tmp_path):
    """DeltaLogSuite 'schema must contain all partition columns': a
    write partitioned by a column absent from the data must fail and
    commit nothing."""
    t = _t(spark, tmp_path)
    t.write(spark.range(3).select(F.col("id").alias("x")))
    v_before = t.snapshot().version
    with pytest.raises(Exception):
        t.write(spark.range(3).select(F.col("id").alias("x")),
                mode="append", partition_by=["not_a_column"])
    assert t.snapshot().version == v_before


def test_user_commit_info_rejected(spark, tmp_path):
    """OptimisticTransactionLegacySuite 'user cannot commit their own
    CommitInfo': the txn writes its own CommitInfo line; a user-supplied
    one would put two in one commit."""
    from connectors_spark.log.actions import CommitInfo

    t = _t(spark, tmp_path)
    t.write(spark.range(3).select(F.col("id").alias("x")))
    txn = t.log.start_transaction()
    with pytest.raises(DeltaError):
        txn.commit([CommitInfo(timestamp=0, operation="SNEAKY",
                               operationParameters={})], "WRITE", {})


@pytest.mark.pin
def test_foreign_path_spellings_replay_once(spark, tmp_path):
    """A foreign writer's log spells its files five ways. Each log path
    is decoded exactly once, like the reference's canonicalizePath: a
    cold replay agrees with the seeded one, every file reads, the
    engine's own (canonical) remove spelling cancels each foreign add,
    and the streaming source reads the ``file:`` URI."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from connectors_spark.log import filenames as fn
    from connectors_spark.log.actions import AddFile, to_json_line
    from connectors_spark.log.snapshot import Snapshot
    from connectors_spark.streaming import register_stream_source

    t = _t(spark, tmp_path)
    t.write(spark.createDataFrame([(100,)], "k long"))
    root = t.log.table_path
    outside = str(tmp_path / "outside")
    spellings = {                              # log path -> physical
        "sub%20dir/a.parquet": f"{root}/sub dir/a.parquet",
        "p%3Dx%253Dy/b.parquet": f"{root}/p=x%3Dy/b.parquet",
        f"file:{outside}/c.parquet": f"{outside}/c.parquet",
        f"file://{root}/d.parquet": f"{root}/d.parquet",
        f"{root}/e%20f.parquet": f"{root}/e f.parquet",
    }
    adds = []
    for i, (log_path, phys) in enumerate(spellings.items()):
        os.makedirs(os.path.dirname(phys), exist_ok=True)
        pq.write_table(pa.table({"k": pa.array(
            [10 * i, 10 * i + 1, 10 * i + 2], pa.int64())}), phys)
        adds.append(AddFile(path=log_path, partitionValues={},
                            size=os.path.getsize(phys),
                            modificationTime=1, dataChange=True))
    t.log.store.write(fn.delta_file(t.log.log_path, 1),
                      [to_json_line(a) for a in adds], overwrite=False)
    physical = set(spellings.values())
    assert physical <= {f.path for f in t.log.snapshot().all_files()}
    assert t.to_df().count() == 16

    register_stream_source(spark)
    name = "foreign_" + os.path.basename(str(tmp_path)).replace("-", "_")
    q = (spark.readStream.format("delta_stream")
         .option("path", root).option("startingVersion", "1").load()
         .writeStream.format("memory").queryName(name)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.table(name).count() == 15

    t.delete(Col("k") == Lit(11))
    snap = t.log.snapshot()
    assert sorted(r.k for r in t.to_df().collect()) == sorted(
        [100] + [10 * i + j for i in range(5) for j in range(3)
                 if 10 * i + j != 11])
    assert not physical & {f.path for f in snap.all_files()}
    assert physical <= {r["path"] for r in snap._tombstone_rows}

    # a cold replay of the segment equals the planes the commits
    # seeded forward, field for field
    assert "_files_rows" in snap.__dict__
    cold = Snapshot(spark, snap.table_path, snap.segment, snap.store)

    def key(r):
        return tuple((k, tuple(sorted(v.items())) if isinstance(v, dict)
                      else v) for k, v in r.asDict().items())
    assert sorted(map(key, cold._files_rows)) \
        == sorted(map(key, snap._files_rows))
    assert sorted(map(key, cold._tombstone_rows)) \
        == sorted(map(key, snap._tombstone_rows))


_PATH_ROOT = "/tbl/root"
_LOG_PATHS = [
    "part-00000.parquet",                      # table-relative
    "a%20b/part-0001.parquet",                 # encoded relative
    "/abs/part.parquet",                       # absolute posix
    "file:/abs/via-uri.parquet",               # file: URI
    "file:/abs/sp%20ace.parquet",              # file: URI, encoded
    "file:/abs/literal+plus.parquet",          # literal + shield
    "s3a://bucket/key/p.parquet",              # scheme://authority
    "file:/abs/bad%zz.parquet",                # INVALID encoding
    "/abs/sp%20ace.parquet",                   # encoded bare-absolute
    "/abs/part%3Dx%253Dy/f.parquet",           # Hive-escaped, encoded
    "s3a://b/k%20x.parquet",                   # scheme, encoded
    "p=a%20b%25c%3Dd~e*f+g/x.parquet",         # every quote() difference
    "caf%C3%A9/%E2%82%AC.parquet",             # non-ASCII, encoded
]


@pytest.mark.pin
def test_canonical_path_col_twin_parity_and_nonnull(spark):
    """canonical_path_col must (1) agree with its Python twin
    canonical_path on every path form — INCLUDING a file: URI whose
    percent-decoding fails, where the twin falls back to the raw
    string (unquote never raises) — and (2) stay NON-NULLABLE for a
    non-null input. Nullability is a performance contract (r14): a
    nullable canonical path makes every join keyed on it re-evaluate
    the whole decode/regex expression inside the join's inserted
    isnotnull() null-filter — one extra per-row pass on each DML
    target scan (measured 2x on the merge matched scan)."""
    from connectors_spark.log.snapshot import (canonical_path,
                                               canonical_path_col)
    import pyspark.sql.types as T
    roots = [_PATH_ROOT, "s3://bucket/t1", "memory://ns/t1"]
    paths = _LOG_PATHS + [r + "/part%3Da/f1.parquet" for r in roots[1:]]
    df = spark.createDataFrame(
        [(p,) for p in paths],
        T.StructType([T.StructField("p", T.StringType(), False)]))
    for tp in roots:
        out = df.select(F.col("p"), canonical_path_col("p", tp).alias("c"))
        assert not out.schema["c"].nullable, \
            "canonical_path_col must be non-nullable for non-null input"
        got = {r["p"]: r["c"] for r in out.collect()}
        for p in paths:
            assert got[p] == canonical_path(p, tp), \
                f"column/twin divergence for {p!r} under {tp!r}: " \
                f"{got[p]!r} != {canonical_path(p, tp)!r}"
    # decoded exactly once, with the reference's URI semantics
    tp = _PATH_ROOT
    assert canonical_path("/abs/sp%20ace.parquet", tp) \
        == "/abs/sp ace.parquet"
    assert canonical_path("/abs/part%3Dx%253Dy/f.parquet", tp) \
        == "/abs/part=x%3Dy/f.parquet"
    assert canonical_path("file://host/abs/f.parquet", tp) \
        == "/abs/f.parquet"
    # a scheme other than file: keeps its scheme and authority, so an
    # absolute and a relative spelling of one file are one path
    assert canonical_path("s3a://b/k%20x.parquet", tp) == "s3a://b/k x.parquet"
    for root in roots[1:]:
        assert canonical_path(root + "/part%3Da/f1.parquet", root) \
            == canonical_path("part%3Da/f1.parquet", root) \
            == root + "/part=a/f1.parquet"


@pytest.mark.pin
def test_relativize_roundtrip():
    """canonical_path must undo relativize exactly on the physical form
    of every log path above (under the root, outside it, and every
    character where Spark's url_encode and quote() differ), and under
    a root with a scheme a path is table-relative too."""
    from connectors_spark.log.snapshot import canonical_path, relativize
    tp = _PATH_ROOT
    for p in sorted({canonical_path(p, tp) for p in _LOG_PATHS}):
        rel = relativize(p, tp)
        assert canonical_path(rel, tp) == p, (p, rel)
    assert relativize(tp + "/p=a b%c=d~e*f+g/x.parquet", tp) \
        == "p%3Da%20b%25c%3Dd~e%2Af%2Bg/x.parquet"
    assert relativize("/abs/sp ace.parquet", tp) \
        == "file:///abs/sp%20ace.parquet"
    mem = "memory://ns/tbl"
    assert relativize(mem + "/p=a/f 1.parquet", mem) == "p%3Da/f%201.parquet"
    assert canonical_path("p%3Da/f%201.parquet", mem) \
        == mem + "/p=a/f 1.parquet"
