"""Checkpointing, change feed, and DML behavior."""

from __future__ import annotations

import os

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.errors import DeltaError
from connectors_spark.expressions import Col
from tests.conftest import read_table


def test_checkpoint_written_and_read(spark, tmp_path):
    nation = read_table(spark, "nation")
    t = DeltaTable.for_path(spark, str(tmp_path / "ck"))
    # 12 single-row commits -> checkpoint at version 10
    rows = nation.limit(12).collect()
    for i, r in enumerate(rows):
        df = spark.createDataFrame([r], nation.schema)
        t.write(df, mode="append")
    log_dir = os.path.join(t.path, "_delta_log")
    names = os.listdir(log_dir)
    assert any("checkpoint" in n for n in names), names
    assert "_last_checkpoint" in names
    # full read sees all 12 rows
    assert t.to_df().count() == 12
    # snapshot built FROM the checkpoint (delete early jsons' visibility):
    snap = t.log.snapshot_for_version(10)
    assert snap.segment.checkpoint_version == 10
    assert snap.to_df().count() == 11


def test_changes_df(spark, tmp_path):
    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(tmp_path / "cd"))
    t.write(orders.where("o_orderstatus = 'F'"))
    t.write(orders.where("o_orderstatus = 'O'"), mode="append")
    t.write(orders.where("o_orderstatus = 'P'"), mode="append")
    ch = t.changes_df(start_version=1)
    n_o = orders.where("o_orderstatus = 'O'").count()
    n_p = orders.where("o_orderstatus = 'P'").count()
    assert ch.count() == n_o + n_p
    per_v = {r["_commit_version"]: r["n"] for r in
             ch.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()}
    assert per_v == {1: n_o, 2: n_p}


def test_changes_validation(spark, tmp_path):
    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(tmp_path / "cv"))
    # partitioned so a partition-predicate DELETE is a pure remove commit
    t.write(orders.where("o_orderstatus = 'F'"),
            partition_by=["o_orderstatus"])
    t.write(orders.where("o_orderstatus = 'O'"), mode="append")
    t.delete(Col("o_orderstatus") == "F")  # version 2: delete-only
    with pytest.raises(DeltaError):
        t.changes_df(start_version=1).count()
    # ignore_deletes lets the stream skip the delete-only version
    n = t.changes_df(start_version=1, ignore_deletes=True).count()
    assert n == orders.where("o_orderstatus = 'O'").count()


def test_changes_rejects_rewrites_unless_ignore_changes(spark, tmp_path):
    cust = read_table(spark, "customer")
    t = DeltaTable.for_path(spark, str(tmp_path / "cw"))
    t.write(cust)
    t.update({"c_acctbal": F.lit(0.0)}, Col("c_mktsegment") == "BUILDING")
    with pytest.raises(DeltaError):
        t.changes_df(start_version=1).count()
    # ignore_changes streams the rewritten files' rows
    n = t.changes_df(start_version=1, ignore_changes=True).count()
    assert n > 0


def test_update(spark, tmp_path):
    cust = read_table(spark, "customer")
    t = DeltaTable.for_path(spark, str(tmp_path / "up"))
    t.write(cust)
    t.update({"c_acctbal": F.col("c_acctbal") + 100.0},
             Col("c_mktsegment") == "BUILDING")
    got = t.to_df()
    want = cust.withColumn(
        "c_acctbal",
        F.when(F.col("c_mktsegment") == "BUILDING",
               F.col("c_acctbal") + 100.0).otherwise(F.col("c_acctbal")))
    assert got.count() == cust.count()
    a = got.agg(F.round(F.sum("c_acctbal"), 2)).collect()[0][0]
    b = want.agg(F.round(F.sum("c_acctbal"), 2)).collect()[0][0]
    assert a == b


def test_merge_upsert(spark, tmp_path):
    cust = read_table(spark, "customer")
    t = DeltaTable.for_path(spark, str(tmp_path / "mg"))
    t.write(cust)
    n0 = cust.count()
    # source: update acctbal for 10 existing customers, insert 5 new ones
    updates = (cust.limit(10)
               .withColumn("c_acctbal", F.lit(999.0)))
    inserts = (cust.limit(5)
               .withColumn("c_custkey", F.col("c_custkey") + 1_000_000))
    src = updates.unionByName(inserts)
    t.merge(src, "t.c_custkey = s.c_custkey",
            when_matched_update={"c_acctbal": "s.c_acctbal"},
            when_not_matched_insert=True)
    out = t.to_df()
    assert out.count() == n0 + 5
    assert out.where("c_acctbal = 999.0").count() >= 10
    assert out.where("c_custkey >= 1000000").count() == 5


def test_merge_delete(spark, tmp_path):
    cust = read_table(spark, "customer")
    t = DeltaTable.for_path(spark, str(tmp_path / "md"))
    t.write(cust)
    victims = cust.limit(20).select("c_custkey")
    t.merge(victims, "t.c_custkey = s.c_custkey",
            when_matched_delete=True, when_not_matched_insert=False)
    assert t.to_df().count() == cust.count() - 20


# ---------------------------------------------------------------------------
# Checkpoint-write crash safety (VERDICT r12 #7): write_checkpoint publishes
# parquet parts FIRST, then the _last_checkpoint pointer. Every interruption
# point must leave a loadable table: parts present + pointer absent (crash
# between the two), pointer STALE (crash before the update), and a torn
# multi-part set (only some parts landed — segment completeness A4 must
# reject it and fall back).
# ---------------------------------------------------------------------------

def _mk_checkpointed(spark, path, n=12):
    nation = read_table(spark, "nation")
    t = DeltaTable.for_path(spark, str(path))
    for r in nation.limit(n).collect():
        t.write(spark.createDataFrame([r], nation.schema), mode="append")
    return t


def test_checkpoint_crash_pointer_absent(spark, tmp_path):
    t = _mk_checkpointed(spark, tmp_path / "ck")
    log_dir = os.path.join(t.path, "_delta_log")
    os.remove(os.path.join(log_dir, "_last_checkpoint"))
    t2 = DeltaTable.for_path(spark, str(tmp_path / "ck"))
    assert t2.to_df().count() == 12
    # the listing found the checkpoint without the hint
    assert t2.log.snapshot().segment.checkpoint_version == 10


def test_checkpoint_crash_pointer_stale(spark, tmp_path):
    """A pointer that still names an OLDER checkpoint (crash before the
    update) must not hide newer commits or the newer checkpoint."""
    from connectors_spark.log.segment import (read_last_checkpoint,
                                              write_last_checkpoint)
    t = _mk_checkpointed(spark, tmp_path / "ck", n=12)
    lc = read_last_checkpoint(t.log.store, t.log.log_path)
    assert lc is not None and lc.version == 10
    # grow past the next checkpoint (20), then roll the pointer BACK
    nation = read_table(spark, "nation")
    for r in nation.limit(25).collect()[12:]:
        t.write(spark.createDataFrame([r], nation.schema), mode="append")
    write_last_checkpoint(t.log.store, t.log.log_path, 10, lc.size,
                          parts=lc.parts)
    t2 = DeltaTable.for_path(spark, str(tmp_path / "ck"))
    assert t2.to_df().count() == 25
    assert t2.log.snapshot().version == 24


def test_checkpoint_crash_torn_multipart(spark, tmp_path):
    """Only SOME parts of a multi-part checkpoint landed: completeness
    (A4) must reject the torn set and replay from the previous complete
    checkpoint (or the full json tail)."""
    from connectors_spark.log import filenames as fn
    t = _mk_checkpointed(spark, tmp_path / "ck", n=12)
    from connectors_spark.log.checkpoints import write_checkpoint
    snap = t.log.snapshot()
    write_checkpoint(snap, parts=3)           # multi-part at head (11)
    log_dir = os.path.join(t.path, "_delta_log")
    multi = sorted(n for n in os.listdir(log_dir)
                   if ".checkpoint." in n and n.endswith(".parquet")
                   and ".0000000003.parquet" in n)
    assert len(multi) == 3
    os.remove(os.path.join(log_dir, multi[-1]))   # tear the set
    # the stale pointer (if updated) and listing must both fall back
    t2 = DeltaTable.for_path(spark, str(tmp_path / "ck"))
    assert t2.to_df().count() == 12
    seg = t2.log.snapshot().segment
    assert seg.checkpoint_version in (None, 10)


def test_checkpoint_crash_fallbacks_on_s3_store(tmp_path):
    """Segment selection against the S3 conditional-put store (moto):
    absent pointer, and a pointer naming a TORN multi-part set, must
    both fall back to the previous complete checkpoint + full tail.
    Spark can't open s3:// parquet in this sandbox, so the pin targets
    get_log_segment itself — the component whose listing/fallback
    behavior differs per store."""
    pytest.importorskip("moto")
    import json

    import boto3
    import moto

    from connectors_spark.log import filenames as fn
    from connectors_spark.log.logstore import default_log_store
    from connectors_spark.log.segment import (get_log_segment,
                                              write_last_checkpoint)
    with moto.mock_aws():
        boto3.client("s3", region_name="us-east-1").create_bucket(
            Bucket="ckpt-bucket")
        root = "s3://ckpt-bucket/tbl"
        log = root + "/_delta_log"
        store = default_log_store(root)
        meta = json.dumps({"metaData": {
            "id": "m", "format": {"provider": "parquet", "options": {}},
            "schemaString": "{}", "partitionColumns": [],
            "configuration": {}}})
        proto = json.dumps({"protocol": {"minReaderVersion": 1,
                                         "minWriterVersion": 2}})
        for v in range(13):
            lines = [proto, meta] if v == 0 else [json.dumps(
                {"add": {"path": str(v), "partitionValues": {},
                         "size": 1, "modificationTime": 1,
                         "dataChange": True}})]
            store.write(fn.delta_file(log, v), lines)
        # complete single-part checkpoint at 10 (segment selection never
        # opens checkpoint contents — only the NAMES matter here)
        store.write(fn.checkpoint_file_single(log, 10), ["x"])
        write_last_checkpoint(store, log, 10, 12, None)
        seg = get_log_segment(store, log)
        assert seg.checkpoint_version == 10 and seg.version == 12

        # crash window 1: parts published, pointer never written
        store.delete(log + "/_last_checkpoint")
        seg = get_log_segment(store, log)
        assert seg.checkpoint_version == 10 and seg.version == 12

        # crash window 2: TORN multi-part at 12 (2 of 3 parts) with the
        # pointer already naming it — completeness must reject the set
        # and the stale-hint re-list must recover checkpoint 10
        names = fn.checkpoint_file_parts(log, 12, 3)
        for n in names[:2]:
            store.write(n, ["x"])
        write_last_checkpoint(store, log, 12, 14, 3)
        seg = get_log_segment(store, log)
        assert seg.checkpoint_version == 10 and seg.version == 12
        assert [fn.delta_version(os.path.basename(p))
                for p in seg.deltas] == [11, 12]


@pytest.mark.pin
def test_checkpoint_from_materialized_inventory_matches_cold(spark, tmp_path):
    """A checkpoint holds the same rows whether it is written from a
    warm snapshot (planes seeded commit by commit) as one part, or from
    a cold one (planes folded from the log) as three parts. The log
    covers every field the writer encodes: a partition value holding
    every character where Spark's url_encode and quote() differ, an add
    outside the table root, a deletion-vector tag, row ids, and a
    foreign tombstone with ``extendedFileMetadata=false`` whose size
    and partition values the checkpoint must drop."""
    import glob
    import json
    import time

    import connectors_spark.log.checkpoints as CK
    from connectors_spark.dv import DV_TAG
    from connectors_spark.expressions import Lit
    from connectors_spark.log import filenames as fn

    odd = "a b%c=d~e*f+g"
    df = spark.range(40).select(
        F.col("id"), F.when(F.col("id") % 2 == 0, F.lit(odd))
        .otherwise(F.lit("plain")).alias("p"))
    t = DeltaTable.for_path(spark, str(tmp_path / "ckm"))
    t.write(df.repartition(2, "p"), partition_by=["p"],
            configuration={"delta.enableRowTracking": "true",
                           "delta.protocol.autoUpgrade": "true"})
    t.delete(Col("id") >= Lit(36))                        # tombstones
    t.delete(Col("id") < Lit(4), deletion_vectors=True)   # DV tags
    outside = str(tmp_path / "outside dir" / "f.parquet")
    os.makedirs(os.path.dirname(outside))
    spark.range(40, 43).select("id").toPandas().to_parquet(outside)
    log_dir = os.path.join(t.path, "_delta_log")
    now = int(time.time() * 1000)
    v = t.log.snapshot().version + 1
    t.log.store.write(fn.delta_file(log_dir, v), [json.dumps(a) for a in [
        {"add": {"path": "file://" + outside.replace(" ", "%20"),
                 "partitionValues": {"p": "plain"},
                 "size": os.path.getsize(outside), "modificationTime": now,
                 "dataChange": True}},
        {"remove": {"path": "foreign-gone.parquet", "deletionTimestamp": now,
                    "dataChange": True, "extendedFileMetadata": False,
                    "partitionValues": {"p": "plain"}, "size": 7}}]])
    assert t.to_df().count() == 35

    def checkpoint_rows(snap, **kw):
        for f in glob.glob(os.path.join(log_dir, "*checkpoint*.parquet")):
            os.remove(f)
        CK.write_checkpoint(snap, **kw)
        files = glob.glob(os.path.join(log_dir, "*checkpoint*.parquet"))
        return len(files), sorted(spark.read.parquet(*files)
                                  .toJSON().collect())

    warm, cold = t.log.snapshot(), t.log.snapshot_for_version(v)
    assert warm.version == v and "_files_rows" in warm.__dict__
    assert "_files_rows" not in cold.__dict__
    n_warm, rows_driver = checkpoint_rows(warm)
    n_cold, rows_cold = checkpoint_rows(cold, parts=3)
    assert (n_warm, n_cold) == (1, 3)
    assert rows_driver == rows_cold

    acts = [json.loads(r) for r in rows_driver]
    adds = [a["add"] for a in acts if a.get("add")]
    removes = {a["remove"]["path"]: a["remove"]
               for a in acts if a.get("remove")}
    # the Hive-escaped directory p=a b%25c%3Dd~e%2Af+g, URI-encoded
    assert any(a["path"].startswith("p%3Da%20b%2525c%253Dd~e%252Af%2Bg/")
               for a in adds)
    assert "file://" + outside.replace(" ", "%20") in \
        {a["path"] for a in adds}
    assert any(DV_TAG in (a.get("tags") or {}) for a in adds)
    assert all(a.get("baseRowId") is not None for a in adds
               if not a["path"].startswith("file:"))
    foreign = removes["foreign-gone.parquet"]
    assert foreign["extendedFileMetadata"] is False
    assert "size" not in foreign and "partitionValues" not in foreign
    assert len(removes) > 1
    # a reader of the checkpoint alone sees the same table
    fresh = t.log.snapshot_for_version(v)
    assert fresh.segment.checkpoint_version == v
    assert sorted(r.id for r in fresh.to_df().collect()) \
        == sorted(r.id for r in cold.to_df().collect())


@pytest.mark.pin
def test_changes_df_applies_deletion_vectors_like_the_stream(spark, tmp_path):
    """``changes_df`` delivers a re-added file's LIVE rows under the
    deletion vector it carries at that version, exactly as the
    ``delta_stream`` source does for the same options: a DV-DELETE
    re-adds the file with a grown DV, and the rows it deletes must not
    come back through the batch feed."""
    from pyspark.sql import Row

    from connectors_spark.expressions import Lit
    from connectors_spark.streaming import register_stream_source

    src = tmp_path / "src"
    t = DeltaTable.for_path(spark, str(src))
    t.write(spark.createDataFrame(
        [Row(k=i, v=i * 10) for i in range(100)]).coalesce(1))
    t.delete(Col("k") < Lit(10), deletion_vectors=True)     # v1
    t.delete(Col("k") < Lit(20), deletion_vectors=True)     # v2
    batch = sorted(tuple(r) for r in
                   t.changes_df(start_version=2, ignore_changes=True)
                   .select("k", "v", "_commit_version").collect())
    register_stream_source(spark)
    q = (spark.readStream.format("delta_stream")
         .option("path", str(src))
         .option("startingVersion", "2")
         .option("ignoreChanges", "true").load()
         .writeStream.format("memory").queryName("t_dv_changes")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream = sorted(tuple(r) for r in spark.sql(
        "select k, v, _commit_version from t_dv_changes").collect())
    assert len(batch) == 80
    assert batch == stream
    assert sorted(k for k, _v, _cv in batch) == list(range(20, 100))
