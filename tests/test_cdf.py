"""Row-level Change Data Feed: CDC files on DML, synthesis elsewhere.

Covers the Delta CDF protocol rules the reader implements
(connectors_spark/streaming/cdf.py): a commit with AddCDCFile actions is
described exactly by those files; other commits synthesize inserts from
dataChange adds and deletes from dataChange removes; dataChange=false
commits emit nothing.
"""

from __future__ import annotations

import os

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import Row
from pyspark.sql import functions as F

from connectors_spark.expressions import Col, Lit
from connectors_spark.log.actions import AddCDCFile
from connectors_spark.log import filenames as fn
from connectors_spark.table import DeltaTable, TableMaintenance

CDF = {"delta.enableChangeDataFeed": "true"}


def _mk(spark, tmp_path, rows, partition_by=None, cdf=True):
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(rows)
    t.write(df, partition_by=partition_by or [],
            configuration=CDF if cdf else None)
    return t


def _changes(t, start, end=None):
    return {(r["k"], r["v"], r["_change_type"], r["_commit_version"])
            for r in t.table_changes(start, end).collect()}


def test_append_synthesizes_inserts(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1, v="a"), Row(k=2, v="b")])
    t.write(spark.createDataFrame([Row(k=3, v="c")]))
    assert _changes(t, 0) == {(1, "a", "insert", 0), (2, "b", "insert", 0),
                              (3, "c", "insert", 1)}


def test_update_emits_pre_and_post_images(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1, v="a"), Row(k=2, v="b")])
    t.update({"v": "'B'"}, Col("k") == Lit(2))
    assert _changes(t, 1) == {(2, "b", "update_preimage", 1),
                              (2, "B", "update_postimage", 1)}
    # the untouched row is NOT in the feed even though its file was rewritten
    v1 = t.table_changes(1).where("k = 1").count()
    assert v1 == 0


def test_update_predicate_on_rewritten_column(spark, tmp_path):
    # cond reads the column the update rewrites: postimages must still tag
    # the originally-matching rows.
    t = _mk(spark, tmp_path, [Row(k=1, v="neg"), Row(k=-5, v="neg")])
    t.update({"k": "0"}, Col("k") < Lit(0))
    assert _changes(t, 1) == {(-5, "neg", "update_preimage", 1),
                              (0, "neg", "update_postimage", 1)}


def test_delete_residual_emits_cdc(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=i, v=str(i)) for i in range(6)])
    t.delete(Col("k") >= Lit(4))
    got = _changes(t, 1)
    assert got == {(4, "4", "delete", 1), (5, "5", "delete", 1)}
    # CDC files physically exist under _change_data
    acts = list(t.log.get_changes(1))[0][1]
    assert any(isinstance(a, AddCDCFile) for a in acts)


def test_whole_file_delete_synthesizes_from_removes(spark, tmp_path):
    rows = [Row(k=i, v="x" if i % 2 else "y") for i in range(6)]
    t = _mk(spark, tmp_path, rows, partition_by=["v"])
    t.delete(Col("v") == Lit("x"))  # partition-only: whole files removed
    acts = list(t.log.get_changes(1))[0][1]
    assert not any(isinstance(a, AddCDCFile) for a in acts)
    got = _changes(t, 1)
    assert got == {(1, "x", "delete", 1), (3, "x", "delete", 1),
                   (5, "x", "delete", 1)}


@pytest.mark.pin
def test_foreign_remove_without_size_reads_its_delete_rows(spark, tmp_path):
    # A foreign writer's RemoveFile with extendedFileMetadata=false has
    # no size; the delete leg stats that one file instead of taking its
    # status from the log, and returns the file's rows.
    import json
    import time as _time

    rows = [Row(k=i, v="x" if i % 2 else "y") for i in range(6)]
    t = _mk(spark, tmp_path, rows, partition_by=["v"], cdf=False)
    gone = [f for f in t.log.snapshot().all_files()
            if f.partitionValues["v"] == "x"]
    v = t.log.snapshot().version + 1
    t.log.store.write(fn.delta_file(t.log.log_path, v), [json.dumps(
        {"remove": {"path": f.path, "dataChange": True,
                    "deletionTimestamp": int(_time.time() * 1000),
                    "extendedFileMetadata": False}}) for f in gone])
    assert all(a.size is None for a in list(t.log.get_changes(v))[0][1])
    # the remove carries no partitionValues either: v reads NULL
    assert _changes(t, v) == {(k, None, "delete", v) for k in (1, 3, 5)}


def test_merge_mixed_change_types(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1, v="a"), Row(k=2, v="b")])
    src = spark.createDataFrame([Row(k=2, v="B2"), Row(k=9, v="new")])
    t.merge(src, "t.k = s.k",
            when_matched_update={"v": "s.v"})
    assert _changes(t, 1) == {(2, "b", "update_preimage", 1),
                              (2, "B2", "update_postimage", 1),
                              (9, "new", "insert", 1)}


def test_optimize_emits_nothing(spark, tmp_path):
    t = _mk(spark, tmp_path, [Row(k=1, v="a")])
    t.write(spark.createDataFrame([Row(k=2, v="b")]))
    TableMaintenance(t).optimize(min_files_per_group=2)
    assert t.log.snapshot().version == 2
    assert t.table_changes(2, 2).count() == 0


def test_cdf_disabled_update_synthesizes_rewrite(spark, tmp_path):
    # Without the table property no CDC files are written; the reader
    # falls back to file-level synthesis (delete old file + insert new).
    t = _mk(spark, tmp_path, [Row(k=1, v="a")], cdf=False)
    t.update({"v": "'A'"}, Col("k") == Lit(1))
    acts = list(t.log.get_changes(1))[0][1]
    assert not any(isinstance(a, AddCDCFile) for a in acts)
    assert _changes(t, 1) == {(1, "a", "delete", 1), (1, "A", "insert", 1)}


def test_partitioned_update_cdc_carries_partition_columns(spark, tmp_path):
    rows = [Row(k=i, v="x" if i % 2 else "y") for i in range(4)]
    t = _mk(spark, tmp_path, rows, partition_by=["v"])
    t.update({"k": "k + 10"}, Col("k") == Lit(1))
    assert _changes(t, 1) == {(1, "x", "update_preimage", 1),
                              (11, "x", "update_postimage", 1)}


def test_reorg_purge_emits_nothing_and_dv_deletes_survive(spark, tmp_path):
    """REORG PURGE is dataChange=False end to end: the change feed
    shows the DV delete at its own version and NOTHING for the purge,
    and post-purge reads equal pre-purge reads. The rows are one file,
    so the DV delete leaves it partly live and REORG must purge it."""
    rows = [Row(k=i, v=chr(97 + i % 3)) for i in range(20)]
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(rows).coalesce(1), configuration=CDF)
    t.delete(Col("k") < Lit(5), deletion_vectors=True)
    before = {(r["k"], r["v"]) for r in t.to_df().collect()}
    res = TableMaintenance(t).reorg_purge()
    assert res["filesPurged"] == 1
    pv = res["version"]
    assert t.table_changes(pv, pv).count() == 0
    assert _changes(t, 1, 1) == {(i, chr(97 + i % 3), "delete", 1)
                                 for i in range(5)}
    assert {(r["k"], r["v"]) for r in t.to_df().collect()} == before


@pytest.mark.pin
def test_foreign_cdc_layout_reads_partition_values(spark, tmp_path):
    """A change file in delta-spark's layout on a partitioned table —
    data columns plus ``_change_type`` at
    ``_change_data/part=a/cdc-*.parquet``, the partition value on the
    AddCDCFile only — reads back with its partition column, in the
    batch feed and in the streaming CDF source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from connectors_spark.streaming import register_stream_source

    t = _mk(spark, tmp_path, [Row(k=1, v="x", part="a"),
                              Row(k=2, v="y", part="b")],
            partition_by=["part"])
    rel = "_change_data/part=a/cdc-00000-foreign.c000.snappy.parquet"
    full = os.path.join(t.path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    pq.write_table(pa.table({
        "k": pa.array([1, 1], pa.int64()),
        "v": pa.array(["x", "X"]),
        "_change_type": pa.array(["update_preimage",
                                  "update_postimage"])}), full)
    txn = t.log.start_transaction()
    txn.read_whole_table()
    v = txn.commit([AddCDCFile(rel, {"part": "a"}, os.path.getsize(full))],
                   "UPDATE", {})
    want = {(1, "x", "a", "update_preimage", v),
            (1, "X", "a", "update_postimage", v)}
    assert {(r.k, r.v, r.part, r._change_type, r._commit_version)
            for r in t.table_changes(v, v).collect()} == want
    register_stream_source(spark)
    q = (spark.readStream.format("delta_stream")
         .option("path", t.path)
         .option("readChangeFeed", "true")
         .option("startingVersion", str(v)).load()
         .writeStream.format("memory").queryName("t_cdf_foreign")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert {(r.k, r.v, r.part, r._change_type, r._commit_version)
            for r in spark.sql("select * from t_cdf_foreign").collect()} \
        == want


def test_zero_hit_dml_commits_empty_change_file(spark, tmp_path):
    """An UPDATE or DELETE whose predicate survives stats pruning but
    matches no row rewrites its candidate files unchanged. With CDF on
    it still commits an (empty) AddCDCFile, so the feed reads nothing
    rather than synthesizing delete+insert pairs from the rewrite."""
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([Row(k=i, v=str(i)) for i in (0, 2, 4)])
            .coalesce(1), configuration=CDF)
    for dml in (lambda: t.update({"v": "'u'"}, Col("k") == Lit(1)),
                lambda: t.delete(Col("k") == Lit(3))):
        v = dml()
        acts = dict(t.log.get_changes(v))[v]
        assert any(isinstance(a, AddCDCFile) for a in acts)
        assert t.table_changes(v, v).count() == 0


def test_table_changes_by_timestamp(spark, tmp_path):
    """Timestamp-bounded CDF: bounds resolve against the monotonized
    history; a window covering only version 1 returns exactly its
    changes, an empty between-commits window returns no rows."""
    t = _mk(spark, tmp_path, [Row(k=1, v="a")])
    t.write(spark.createDataFrame([Row(k=2, v="b")]))     # version 1
    t.delete(Col("k") == Lit(1))                          # version 2
    commits = {h["version"]: h["timestamp"] for h in t.history()}
    ch = t.table_changes_by_timestamp(commits[1], commits[1])
    assert {(r["k"], r["_change_type"], r["_commit_version"])
            for r in ch.collect()} == {(2, "insert", 1)}
    # open-ended start: versions 1..latest
    ch2 = t.table_changes_by_timestamp(commits[1])
    assert {r["_commit_version"] for r in ch2.collect()} == {1, 2}
    # empty window strictly between two commits
    if commits[2] - commits[1] > 1:
        mid = commits[1] + 1
        assert t.table_changes_by_timestamp(mid, mid).count() == 0


def test_cdf_row_ids_across_update(spark, tmp_path):
    # Row ids through the change feed: the UPDATE's synthesized
    # delete+insert pair for a logical row shares one _row_id (remove
    # side from the tombstone's baseRowId, insert side from the
    # rewritten file's materialized columns).
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration={"delta.enableRowTracking": "true"})
    t.update({"v": "999"}, Col("id") < Lit(10))
    ch = t.table_changes(1, with_row_ids=True).collect()
    ins = {r["_row_id"]: r for r in ch if r["_change_type"] == "insert"}
    dls = {r["_row_id"]: r for r in ch if r["_change_type"] == "delete"}
    assert None not in ins and None not in dls
    updated = {rid for rid, r in ins.items() if r["v"] == 999}
    assert len(updated) == 10
    assert updated <= (set(ins) & set(dls))
    for rid in set(ins) & set(dls):
        assert ins[rid]["id"] == dls[rid]["id"]


def test_cdf_row_ids_requires_tracking(spark, tmp_path):
    from connectors_spark.errors import DeltaError
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(5).select(F.col("id")))
    with pytest.raises(DeltaError, match="enableRowTracking"):
        t.table_changes(0, with_row_ids=True)


def test_cdf_row_ids_dv_delete(spark, tmp_path):
    # A DV delete re-adds the file with its baseRowId preserved; the
    # CDF nets out to exactly the deleted rows, each carrying the id
    # it had since insertion.
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 50).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration={"delta.enableRowTracking": "true"})
    before = {r["id"]: r["_row_id"]
              for r in t.to_df(with_row_ids=True).collect()}
    t.delete(Col("id") < Lit(7), deletion_vectors=True)
    ch = t.table_changes(1, with_row_ids=True).collect()
    # synthesized DV-delete: remove side carries the file's pre-DV
    # content, add side its live rows — netting the two _row_id sets
    # yields exactly the deleted rows, under their original ids
    dl = {r["_row_id"]: r["id"] for r in ch
          if r["_change_type"] == "delete"}
    ins = {r["_row_id"] for r in ch if r["_change_type"] == "insert"}
    net = {v: k for k, v in dl.items() if k not in ins}
    assert net == {k: before[k] for k in range(7)}


def test_cdf_row_ids_foreign_remove_and_preimage_null_rcv(spark,
                                                          tmp_path):
    """ADVICE r14: files from a FOREIGN writer that lack
    defaultRowCommitVersion / materialized commit-version columns must
    read honest NULL _row_commit_version on the delete and
    update_preimage legs — the _commit_version fallback is only sound
    where the row's last modification IS this commit (insert /
    update_postimage)."""
    import dataclasses
    import time as _time

    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 8).select(
        F.col("id"), (F.col("id") * 2).alias("v")).coalesce(1),
        configuration={"delta.enableRowTracking": "true"})
    snap = t.log.snapshot()
    f = snap.all_files()[0]
    # leg 1 — synthesized delete from a foreign RemoveFile: baseRowId
    # present (ids derivable) but NO defaultRowCommitVersion
    rm = dataclasses.replace(f.remove(int(_time.time() * 1000)),
                             defaultRowCommitVersion=None)
    txn = t.log.start_transaction()
    txn.read_whole_table()
    v1 = txn.commit([rm], "DELETE", {})
    # leg 2 — physical update_preimage CDC file WITHOUT materialized
    # row-id/commit-version columns (a foreign writer's cdc parquet)
    import pyarrow as pa
    import pyarrow.parquet as pq

    cdc_dir = str(tmp_path / "t" / "_change_data")
    os.makedirs(cdc_dir, exist_ok=True)
    cdc_file = os.path.join(cdc_dir, "cdc-foreign-0.parquet")
    pq.write_table(pa.table({
        "id": pa.array([0, 1], pa.int64()),
        "v": pa.array([0, 2], pa.int64()),
        "_change_type": pa.array(["update_preimage",
                                  "update_postimage"])}), cdc_file)
    txn = t.log.start_transaction()
    txn.read_whole_table()
    v2 = txn.commit([AddCDCFile("_change_data/cdc-foreign-0.parquet",
                                {}, os.path.getsize(cdc_file))],
                    "UPDATE", {})
    ch = t.table_changes(v1, with_row_ids=True).collect()
    dels = [r for r in ch if r["_change_type"] == "delete"]
    assert len(dels) == 8
    # ids derive from the tombstone's baseRowId; the commit version
    # must be NULL, not v1
    assert all(r["_row_id"] is not None for r in dels)
    assert all(r["_row_commit_version"] is None for r in dels)
    pre = [r for r in ch if r["_change_type"] == "update_preimage"]
    post = [r for r in ch if r["_change_type"] == "update_postimage"]
    assert len(pre) == 1 and len(post) == 1
    # no materialized id → NULL id; preimage rcv NULL (no fallback),
    # and the postimage's fallback is GATED on a known id → also NULL
    assert pre[0]["_row_commit_version"] is None
    assert pre[0]["_row_id"] is None
    assert post[0]["_row_commit_version"] is None


# ---------------------------------------------------------------------------
# Row ids through PHYSICAL AddCDCFile rows (VERDICT r12 #4): when CDF and
# row tracking are both on, DML commits describe their changes by CDC files
# — which have no AddFile baseRowId to fall back on. The DML materializes
# each change row's id (and, where known, commit version) into the CDC
# parquet; the reader coalesces materialized → base+index → _commit_version.
# ---------------------------------------------------------------------------

RT_CDF = {"delta.enableChangeDataFeed": "true",
          "delta.enableRowTracking": "true",
          "delta.protocol.autoUpgrade": "true"}


def _has_physical_cdc(t, version):
    from connectors_spark.log.actions import AddCDCFile as _C
    acts = dict(t.log.get_changes(version))[version]
    return any(isinstance(a, _C) for a in acts)


def test_cdf_row_ids_through_physical_cdc_update(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration=RT_CDF)
    before = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in t.to_df(with_row_ids=True).collect()}
    t.update({"v": "v + 1000"}, Col("id") < Lit(5))
    assert _has_physical_cdc(t, 1)    # the commit wrote real CDC files
    ch = t.table_changes(1, 1, with_row_ids=True).collect()
    pre = {r["id"]: r for r in ch
           if r["_change_type"] == "update_preimage"}
    post = {r["id"]: r for r in ch
            if r["_change_type"] == "update_postimage"}
    assert sorted(pre) == sorted(post) == list(range(5))
    for i in range(5):
        # both images carry the row's ORIGINAL id — non-NULL
        assert pre[i]["_row_id"] == post[i]["_row_id"] == before[i][0]
        # preimage keeps its creation version; postimage is THIS commit
        assert pre[i]["_row_commit_version"] == before[i][1]
        assert post[i]["_row_commit_version"] == 1
        assert post[i]["v"] == pre[i]["v"] + 1000


def test_cdf_row_ids_through_physical_cdc_merge(spark, tmp_path):
    """MERGE with physical CDC output: updated rows keep their id on
    both images, deleted rows keep theirs, inserted rows read NULL
    (fresh ids are assigned commit-side — disclosed); rewritten-but-
    unmatched target rows keep their ids in the TABLE (spec's
    preserved split)."""
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 30).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration=RT_CDF)
    before = {r["id"]: r["_row_id"]
              for r in t.to_df(with_row_ids=True).collect()}
    src = spark.createDataFrame(
        [(i, -1) for i in range(3)] + [(100, 100), (101, 101)],
        "id long, v long")
    t.merge(src, "t.id = s.id",
            when_matched_update={"v": "s.v"},
            when_not_matched_insert=True)
    assert _has_physical_cdc(t, 1)
    ch = t.table_changes(1, 1, with_row_ids=True).collect()
    pre = {r["id"]: r for r in ch
           if r["_change_type"] == "update_preimage"}
    post = {r["id"]: r for r in ch
            if r["_change_type"] == "update_postimage"}
    ins = {r["id"]: r for r in ch if r["_change_type"] == "insert"}
    assert sorted(pre) == sorted(post) == [0, 1, 2]
    for i in range(3):
        assert pre[i]["_row_id"] == post[i]["_row_id"] == before[i]
        assert post[i]["_row_commit_version"] == 1
    assert sorted(ins) == [100, 101]
    assert all(r["_row_id"] is None for r in ins.values())  # disclosed
    # the TABLE's rewritten-but-unmatched rows kept their ids
    after = {r["id"]: r["_row_id"]
             for r in t.to_df(with_row_ids=True).collect()}
    for i in range(3, 30):
        assert after[i] == before[i]


def test_cdf_row_ids_through_physical_cdc_dv_delete(spark, tmp_path):
    """A DV delete under CDF writes physical CDC delete rows; each must
    carry the id the row had since insertion (resolved from the
    untouched file's materialized column or baseRowId + row index)."""
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration=RT_CDF)
    before = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in t.to_df(with_row_ids=True).collect()}
    t.delete(Col("id") < Lit(6), deletion_vectors=True)
    assert _has_physical_cdc(t, 1)
    ch = t.table_changes(1, 1, with_row_ids=True).collect()
    dl = {r["id"]: r for r in ch if r["_change_type"] == "delete"}
    assert sorted(dl) == list(range(6))
    for i in range(6):
        assert dl[i]["_row_id"] == before[i][0]
        assert dl[i]["_row_commit_version"] == before[i][1]


def test_cdf_row_ids_through_physical_cdc_delete_rewrite(spark, tmp_path):
    """Copy-on-write DELETE under CDF: physical CDC delete rows carry
    the dying rows' original ids and creation versions."""
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration=RT_CDF)
    before = {r["id"]: (r["_row_id"], r["_row_commit_version"])
              for r in t.to_df(with_row_ids=True).collect()}
    t.delete(Col("id") < Lit(6))
    assert _has_physical_cdc(t, 1)
    ch = t.table_changes(1, 1, with_row_ids=True).collect()
    dl = {r["id"]: r for r in ch if r["_change_type"] == "delete"}
    assert sorted(dl) == list(range(6))
    for i in range(6):
        assert dl[i]["_row_id"] == before[i][0]
        assert dl[i]["_row_commit_version"] == before[i][1]
