"""Row tracking (Delta protocol 'Row Tracking') + Domain Metadata.

Scope implemented: fresh row ids (AddFile.baseRowId + physical row
index), the delta.rowTracking high-watermark domain, per-attempt
conflict reassignment, preservation on re-adds (DV attach / RESTORE /
CLONE), and MATERIALIZED row ids through every rewrite path (OPTIMIZE,
DELETE-rewrite, UPDATE, MERGE — updated/merged rows keep their id and
fall back to the new file's defaultRowCommitVersion, inserted rows get
fresh ids from the new file's baseRowId + index: the spec's
fresh/materialized split).

Reference parity: none — the reference log kernel predates both
actions; implemented from the published Delta protocol spec sections
'Row Tracking' and 'Domain Metadata'.
"""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from connectors_spark.expressions import Col, Lit
from connectors_spark.log.actions import DomainMetadata, from_json_line
from connectors_spark.table import DeltaTable, TableMaintenance
from connectors_spark.txn import ROW_TRACKING_DOMAIN

CFG = {"delta.enableRowTracking": "true",
       "delta.protocol.autoUpgrade": "true"}


def _mk(spark, path, n=100, parts=None):
    t = DeltaTable.for_path(spark, str(path))
    df = spark.range(0, n).select(
        F.col("id"), (F.col("id") * 2).alias("v"))
    t.write(df, mode="append", configuration=CFG,
            partition_by=parts or [])
    return t


def _rids(t):
    return {r["id"]: (r["_row_id"], r["_row_commit_version"])
            for r in t.to_df(with_row_ids=True).collect()}


def test_fresh_row_ids_unique_and_dense(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=100)
    t.write(spark.range(100, 150).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    rid = _rids(t)
    ids = sorted(v[0] for v in rid.values())
    assert ids == list(range(150))          # unique, dense from 0
    assert {v[1] for k, v in rid.items() if k < 100} == {0}
    assert {v[1] for k, v in rid.items() if k >= 100} == {1}
    dm = t.log.snapshot().domain_metadata[ROW_TRACKING_DOMAIN]
    assert json.loads(dm)["rowIdHighWaterMark"] == 149
    proto = t.log.snapshot().protocol
    feats = set(proto.writerFeatures or [])
    assert {"rowTracking", "domainMetadata"} <= feats


def test_row_ids_stable_under_dv_delete(spark, tmp_path):
    """Fresh ids survive a DV delete, on an unpartitioned table and on
    a partitioned one whose layout fails ``_hive_layout_ok``: a
    foreign-style commit adds a file at the table root whose partition
    value holds ``%`` and a space. There the partition values, the
    base row ids and the DV anti-join all ride one per-file map."""
    import dataclasses

    from connectors_spark.writer import stage_and_collect
    t = _mk(spark, tmp_path / "t")
    p = DeltaTable.for_path(spark, str(tmp_path / "p"))
    p.write(spark.range(0, 50).select(
        F.col("id"), (F.col("id") * 2).alias("v"), F.lit("x").alias("p")),
        configuration=CFG, partition_by=["p"])
    adds = stage_and_collect(spark.range(50, 100).select(
        F.col("id"), (F.col("id") * 2).alias("v")).coalesce(1),
        p.log.table_path, [])
    p.log.start_transaction().commit(
        [dataclasses.replace(a, partitionValues={"p": "50% off"})
         for a in adds], operation="WRITE")
    rows = p.log.snapshot()._files_rows
    assert not p.log.snapshot()._hive_layout_ok(
        [r["path"] for r in rows], [r["partitionValues"] for r in rows])
    for tbl, pred in ((t, Col("id") < Lit(30)),
                      (p, (Col("id") >= Lit(35)) & (Col("id") < Lit(65)))):
        before = _rids(tbl)
        assert sorted(v[0] for v in before.values()) == list(range(100))
        tbl.delete(pred, deletion_vectors=True)
        after = _rids(tbl)
        assert len(after) == 70
        assert all(before[k] == v for k, v in after.items())
    pv = {r["id"]: r["p"] for r in p.to_df(with_row_ids=True).collect()}
    assert {pv[k] for k in pv if k < 50} == {"x"}
    assert {pv[k] for k in pv if k >= 50} == {"50% off"}


def test_row_ids_materialized_through_optimize(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _rids(t)
    res = TableMaintenance(t).optimize(min_files_per_group=2)
    assert res["filesRemoved"] >= 2
    after = _rids(t)
    assert after == before  # ids AND commit versions survive the rewrite
    # REORG's purge rewrite keeps them too
    t.delete(Col("id") < Lit(10), deletion_vectors=True)
    before = _rids(t)
    assert len(before) == 90
    assert TableMaintenance(t).reorg_purge()["filesPurged"] >= 1
    assert _rids(t) == before


def test_row_ids_stable_under_rewrite_delete_and_update(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = _rids(t)
    v_upd = t.update({"v": F.col("v") + 1000}, Col("id") >= Lit(90))
    mid = _rids(t)
    assert all(before[k][0] == v[0] for k, v in mid.items())
    assert {v[1] for k, v in mid.items() if k >= 90} == {v_upd}
    assert all(mid[k][1] == before[k][1] for k in mid if k < 90)
    t.delete((Col("id") >= Lit(10)) & (Col("id") < Lit(20)))
    after = _rids(t)
    assert len(after) == 90
    assert all(mid[k] == v for k, v in after.items())


def test_concurrent_appends_never_overlap_row_ids(spark, tmp_path):
    """Two txns prepared against the SAME snapshot: the loser's retry
    re-assigns baseRowIds above the winner's published watermark —
    the spec's row-id conflict resolution."""
    t = _mk(spark, tmp_path / "t", n=10)
    from connectors_spark.writer import stage_and_collect
    txn1 = t.log.start_transaction()
    txn2 = t.log.start_transaction()
    a1 = stage_and_collect(
        spark.range(100, 120).select(F.col("id"),
                                     (F.col("id") * 2).alias("v")),
        t.log.table_path, [])
    a2 = stage_and_collect(
        spark.range(200, 230).select(F.col("id"),
                                     (F.col("id") * 2).alias("v")),
        t.log.table_path, [])
    txn1.commit(a1, operation="WRITE")
    txn2.commit(a2, operation="WRITE")   # loses v1, retries at v2
    rid = _rids(t)
    ids = sorted(v[0] for v in rid.values())
    assert ids == list(range(60))        # 10 + 20 + 30, no overlap
    dm = t.log.snapshot().domain_metadata[ROW_TRACKING_DOMAIN]
    assert json.loads(dm)["rowIdHighWaterMark"] == 59


def test_domain_metadata_survives_checkpoint_and_compaction(spark,
                                                            tmp_path):
    from connectors_spark.log.checkpoints import write_checkpoint
    t = _mk(spark, tmp_path / "t", n=20)
    t.write(spark.range(20, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    write_checkpoint(t.log.snapshot())
    snap = t.log.snapshot()
    assert ROW_TRACKING_DOMAIN in snap.domain_metadata
    before = _rids(t)
    # replay from the checkpoint alone must keep baseRowIds
    assert sorted(v[0] for v in before.values()) == list(range(40))
    # net-fold compaction keeps the LATEST domain action
    t.write(spark.range(40, 50).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    t.write(spark.range(50, 60).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    TableMaintenance(t).compact_log(start=2, end=3)
    snap2 = t.log.snapshot()
    dm = snap2.domain_metadata[ROW_TRACKING_DOMAIN]
    assert json.loads(dm)["rowIdHighWaterMark"] == 59
    assert sorted(v[0] for v in _rids(t).values()) == list(range(60))


def test_domain_tombstone_hides_checkpointed_domain(spark, tmp_path):
    from connectors_spark.log.checkpoints import write_checkpoint
    t = _mk(spark, tmp_path / "t", n=10)
    txn = t.log.start_transaction()
    txn.commit([DomainMetadata("my.domain", '{"x":1}')],
               operation="SET DOMAIN")
    write_checkpoint(t.log.snapshot())
    assert t.log.snapshot().domain_metadata["my.domain"] == '{"x":1}'
    txn = t.log.start_transaction()
    txn.commit([DomainMetadata("my.domain", removed=True)],
               operation="DROP DOMAIN")
    assert "my.domain" not in t.log.snapshot().domain_metadata
    # the rowTracking domain is untouched
    assert ROW_TRACKING_DOMAIN in t.log.snapshot().domain_metadata


def test_concurrent_same_domain_write_conflicts(spark, tmp_path):
    from connectors_spark.errors import ConcurrentTransactionException
    t = _mk(spark, tmp_path / "t", n=10)
    txn1 = t.log.start_transaction()
    txn2 = t.log.start_transaction()
    txn1.commit([DomainMetadata("app.domain", '{"a":1}')],
                operation="SET DOMAIN")
    with pytest.raises(ConcurrentTransactionException):
        txn2.commit([DomainMetadata("app.domain", '{"a":2}')],
                    operation="SET DOMAIN")


def test_row_ids_refused_without_feature(spark, tmp_path):
    from connectors_spark.errors import DeltaError
    t = DeltaTable.for_path(spark, str(tmp_path / "plain"))
    t.write(spark.range(5).select(F.col("id"),
                                  (F.col("id") * 2).alias("v")))
    with pytest.raises(DeltaError):
        t.to_df(with_row_ids=True)


def test_clone_preserves_row_ids_and_watermark(spark, tmp_path):
    t = _mk(spark, tmp_path / "src", n=30)
    before = _rids(t)
    t.clone_to(str(tmp_path / "dst"), deep=True)
    c = DeltaTable.for_path(spark, str(tmp_path / "dst"))
    after = _rids(c)
    assert {k: v[0] for k, v in after.items()} \
        == {k: v[0] for k, v in before.items()}
    # the clone's watermark dominates the preserved ids: a post-clone
    # append must not collide
    c.write(spark.range(100, 110).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    ids = sorted(v[0] for v in _rids(c).values())
    assert len(ids) == len(set(ids)) == 40


def test_log_actions_carry_base_row_ids(spark, tmp_path):
    """The committed JSON carries baseRowId/defaultRowCommitVersion on
    adds and ONE delta.rowTracking DomainMetadata per data commit."""
    import os
    t = _mk(spark, tmp_path / "t", n=25)
    log_dir = str(tmp_path / "t" / "_delta_log")
    f = [x for x in sorted(os.listdir(log_dir)) if x.endswith(".json")][0]
    adds, dms = [], []
    for line in open(os.path.join(log_dir, f)):
        a = from_json_line(line)
        if a.__class__.__name__ == "AddFile":
            adds.append(a)
        elif isinstance(a, DomainMetadata):
            dms.append(a)
    assert adds and all(a.baseRowId is not None for a in adds)
    assert all(a.defaultRowCommitVersion == 0 for a in adds)
    assert len(dms) == 1 and dms[0].domain == ROW_TRACKING_DOMAIN
    tot = sum(json.loads(a.stats)["numRecords"] for a in adds)
    assert json.loads(dms[0].configuration)["rowIdHighWaterMark"] \
        == tot - 1


def test_row_ids_preserved_through_merge(spark, tmp_path):
    """MERGE materializes row ids through its rewrite: unmatched kept
    rows keep id AND commit version, updated rows keep their id with
    the merge commit as their new commit version, inserted rows get
    FRESH unique ids above the watermark."""
    from pyspark.sql import Row
    t = _mk(spark, tmp_path / "t", n=50)
    before = _rids(t)
    src = spark.createDataFrame(
        [Row(id=i, v=-1) for i in range(40, 60)])  # 40-49 match, 50-59 insert
    v_merge = t.merge(src, "t.id = s.id",
                      when_matched_update={"v": "s.v"},
                      when_not_matched_insert=True)
    after = _rids(t)
    assert len(after) == 60
    ids = sorted(v[0] for v in after.values())
    assert len(set(ids)) == 60                       # global uniqueness
    for k in range(50):                              # all target rows keep ids
        assert after[k][0] == before[k][0], k
    for k in range(40):                              # untouched keep versions
        assert after[k][1] == before[k][1], k
    assert {after[k][1] for k in range(40, 50)} == {v_merge}  # updated
    assert {after[k][1] for k in range(50, 60)} == {v_merge}  # inserted
    assert all(after[k][0] > max(before[v][0] for v in before)
               for k in range(50, 60))               # fresh ids above old


def test_row_ids_stable_under_replace_where(spark, tmp_path):
    """replaceWhere's keep-rows rewrite of partially-covered files
    materializes ids (survivors stable); replaced rows draw fresh ids."""
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("b"),
        (F.col("id") * 2).alias("v"))
    t.write(df.coalesce(1), configuration=CFG)
    before = {r["id"]: r["_row_id"]
              for r in t.to_df(with_row_ids=True).collect()}
    repl = spark.range(200, 230).select(
        F.col("id"), F.lit(1).cast("long").alias("b"),
        (F.col("id") * 3).alias("v"))
    t.write(repl, mode="overwrite", replace_where=Col("b") == Lit(1))
    after = {r["id"]: r["_row_id"]
             for r in t.to_df(with_row_ids=True).collect()}
    survivors = {k for k in before if k % 4 != 1}
    assert set(after) == survivors | set(range(200, 230))
    assert all(before[k] == after[k] for k in survivors)
    ids = sorted(after.values())
    assert len(set(ids)) == len(ids)
    assert all(after[k] > max(before.values())
               for k in range(200, 230))


def test_row_ids_compose_with_column_mapping(spark, tmp_path):
    """Row tracking over a column-mapped table: physical-name reads,
    the _rt materialized columns and the broadcast base map all
    compose — ids stay stable through RENAME COLUMN + OPTIMIZE."""
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    df = spark.range(60).select(F.col("id"),
                                (F.col("id") * 2).alias("v"))
    t.write(df, configuration=dict(
        CFG, **{"delta.columnMapping.mode": "name"}))
    before = {r["id"]: r["_row_id"]
              for r in t.to_df(with_row_ids=True).collect()}
    assert sorted(before.values()) == list(range(60))
    t.rename_column("v", "w")
    TableMaintenance(t).optimize(min_files_per_group=1)
    after = {r["id"]: r["_row_id"]
             for r in t.to_df(with_row_ids=True).collect()}
    assert after == before


def test_enable_rt_backfills_existing_files(spark, tmp_path):
    # ADVICE r11: flipping delta.enableRowTracking on a table with
    # existing files must backfill baseRowId in the SAME commit (log-
    # only re-adds), not silently read NULL ids for old rows.
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 80).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    t.write(spark.range(80, 120).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    t.set_properties({"delta.enableRowTracking": "true"})
    snap = t.log.snapshot()
    assert all(r["baseRowId"] is not None
               for r in snap._files_rows)
    rid = _rids(t)
    assert sorted(v[0] for v in rid.values()) == list(range(120))
    # the enablement commit records the spec's materialized-name keys
    conf = snap.metadata.configuration
    assert "delta.rowTracking.materializedRowIdColumnName" in conf
    assert ("delta.rowTracking.materializedRowCommitVersionColumnName"
            in conf)
    # ids survive a post-enablement OPTIMIZE (materialization uses the
    # recorded names)
    TableMaintenance(t).optimize(min_files_per_group=2)
    assert _rids(t) == rid


@pytest.mark.pin
def test_restore_across_rt_enablement_keeps_removed_files_removed(
        spark, tmp_path):
    # RESTORE to a version with row tracking on, from one with it off,
    # re-enables it in the restore commit. The enablement backfill must
    # neither re-add the files the restore removes (the add would win
    # on replay and bring them back) nor renumber files that kept ids
    # from the earlier enablement.
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 10, 1, 2))                          # v0
    t.set_properties({"delta.enableRowTracking": "true"})      # v1
    t.set_properties({"delta.enableRowTracking": "false"})     # v2
    t.write(spark.range(10, 20, 1, 2), mode="append")          # v3
    TableMaintenance(t).restore(version=1)
    snap = t.log.update()
    assert len(snap._files_rows) == 2
    assert t.to_df().count() == 10
    assert sorted(r["baseRowId"] for r in snap._files_rows) == [0, 5]


def test_domain_metadata_bumps_protocol_without_autoupgrade(spark,
                                                            tmp_path):
    # ADVICE r11: OPTIMIZE cluster_by writes a delta.clustering
    # DomainMetadata action; even with autoUpgrade OFF the commit must
    # declare the exercised feature (spec writer requirement) instead
    # of leaving a legacy (1,2) protocol with undeclared actions.
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 2).alias("v")).repartition(4),
        mode="append")
    assert t.log.snapshot().protocol.minWriterVersion == 2
    TableMaintenance(t).optimize(zorder_by=["id", "v"])
    proto = t.log.snapshot().protocol
    assert "domainMetadata" in set(proto.writerFeatures or [])


def test_materialized_name_collision_picks_fresh_names(spark, tmp_path):
    # A user column named like the engine default forces uuid-generated
    # materialized names; ids still work end-to-end.
    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    t.write(spark.range(0, 40).select(
        F.col("id"), F.lit(7).alias("_rt_row_id")),
        mode="append", configuration=CFG)
    conf = t.log.snapshot().metadata.configuration
    rid_name = conf["delta.rowTracking.materializedRowIdColumnName"]
    assert rid_name != "_rt_row_id"
    assert rid_name.startswith("_row-id-col-")
    before = {r["id"]: r["_row_id"]
              for r in t.to_df(with_row_ids=True).collect()}
    assert sorted(before.values()) == list(range(40))
    TableMaintenance(t).optimize(min_files_per_group=2)
    after = {r["id"]: r["_row_id"]
             for r in t.to_df(with_row_ids=True).collect()}
    assert after == before
    # the user column is untouched
    assert t.to_df().select("_rt_row_id").distinct().collect()[0][0] == 7


def test_rt_enablement_backfill_aborts_on_concurrent_append(spark,
                                                            tmp_path):
    """ADVICE r12 (medium): the enablement backfill is dataChange=False
    but reads the whole table — a concurrent blind append landing
    between snapshot and commit must ABORT it (SERIALIZABLE), or the
    winner's pre-enablement file ends up with no baseRowId and reads
    NULL _row_id on a freshly row-tracked table."""
    import dataclasses

    from connectors_spark.errors import ConcurrentModificationException

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    # stale enablement txn: snapshot taken BEFORE the racing append
    txn = t.log.start_transaction()
    snap = txn.snapshot
    conf = dict(snap.metadata.configuration or {})
    conf.update({"delta.enableRowTracking": "true",
                 "delta.protocol.autoUpgrade": "true"})
    txn.update_metadata(dataclasses.replace(snap.metadata,
                                            configuration=conf))
    t2 = DeltaTable.for_path(spark, path)
    t2.write(spark.range(40, 60).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    with pytest.raises(ConcurrentModificationException):
        txn.commit([], "SET TBLPROPERTIES", {})
    # the public path retries from a fresh snapshot: every live file —
    # including the race winner's — gets a baseRowId
    t.set_properties({"delta.enableRowTracking": "true",
                      "delta.protocol.autoUpgrade": "true"})
    snap = t.log.snapshot()
    assert all(r["baseRowId"] is not None
               for r in snap._files_rows)
    rids = [v[0] for v in _rids(t).values()]
    assert len(rids) == 60 and len(set(rids)) == 60
    assert all(r is not None for r in rids)
