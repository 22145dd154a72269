"""Deletion-vector tests: delete without rewrite, layered DVs, reads,
CDF (exact + synthesized), vacuum protection, restore, checkpoints."""

from __future__ import annotations

import pytest

# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

import os

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.dv import DV_CARD_TAG, DV_TAG
from connectors_spark.expressions import Col, Lit
from connectors_spark.table import TableMaintenance


def _data_files(path):
    out = []
    for root, _dirs, files in os.walk(path):
        if "_delta_log" in root or "_deletion_vectors" in root \
                or "_change_data" in root:
            continue
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet")]
    return sorted(out)


def _make(spark, path, partitioned=False, conf=None):
    t = DeltaTable.for_path(spark, str(path))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") * 10).alias("v"))
    t.write(df.repartition(2, "p"), mode="append",
            partition_by=["p"] if partitioned else None,
            configuration=conf)
    return t


def test_dv_delete_no_rewrite_and_layering(spark, tmp_path):
    t = _make(spark, tmp_path / "t")
    before = _data_files(tmp_path / "t")
    t.delete(Col("id") < Lit(10), deletion_vectors=True)
    assert _data_files(tmp_path / "t") == before  # nothing rewritten
    assert sorted(r.id for r in t.to_df().collect()) == list(range(10, 100))
    tags = {r["path"]: dict(r["tags"] or {})
            for r in t.snapshot().files_df.collect()}
    assert any(DV_TAG in tg for tg in tags.values())
    # second DV on the same files unions the deleted positions
    t.delete(Col("id") >= Lit(90), deletion_vectors=True)
    assert _data_files(tmp_path / "t") == before
    assert sorted(r.id for r in t.to_df().collect()) == list(range(10, 90))
    total_card = sum(int(tg.get(DV_CARD_TAG, 0))
                     for tg in {r["path"]: dict(r["tags"] or {})
                                for r in
                                t.snapshot().files_df.collect()}.values())
    assert total_card == 20
    # no-hit DV delete commits nothing new
    v = t.delete(Col("id") < Lit(0), deletion_vectors=True)
    assert t.to_df().count() == 80 and v == t.log.snapshot().version


def test_dv_partitioned_scan_and_pruning(spark, tmp_path):
    t = _make(spark, tmp_path / "t", partitioned=True)
    t.delete((Col("p") == Lit("1")) & (Col("id") < Lit(50)),
             deletion_vectors=True)
    got = sorted(r.id for r in
                 t.scan(Col("p") == Lit("1")).to_df().collect())
    assert got == [i for i in range(50, 100) if i % 4 == 1]
    assert t.to_df().count() == 100 - len([i for i in range(50) if i % 4 == 1])


def test_dv_cdf_exact_and_synthesized(spark, tmp_path):
    # exact: CDF enabled -> CDC files describe the delete
    t = _make(spark, tmp_path / "a",
              conf={"delta.enableChangeDataFeed": "true"})
    t.delete(Col("id") < Lit(5), deletion_vectors=True)
    ch = t.table_changes(1, 1).collect()
    assert sorted(r.id for r in ch) == [0, 1, 2, 3, 4]
    assert {r["_change_type"] for r in ch} == {"delete"}
    # synthesized: no CDF -> remove(old DV) vs add(new DV) nets the
    # newly-deleted rows as delete+insert pairs that cancel per row
    t2 = _make(spark, tmp_path / "b")
    t2.delete(Col("id") < Lit(5), deletion_vectors=True)
    t2.delete(Col("id") >= Lit(95), deletion_vectors=True)
    for ver, gone in [(1, {0, 1, 2, 3, 4}), (2, {95, 96, 97, 98, 99})]:
        ch2 = t2.table_changes(ver, ver).collect()
        ins = {r.id for r in ch2 if r["_change_type"] == "insert"}
        dels = {r.id for r in ch2 if r["_change_type"] == "delete"}
        assert dels - ins == gone
        assert ins - dels == set()


def test_dv_vacuum_protects_sidecar_and_restore(spark, tmp_path):
    t = _make(spark, tmp_path / "t")
    t.delete(Col("id") < Lit(10), deletion_vectors=True)   # v1
    t.delete(Col("id") < Lit(20), deletion_vectors=True)   # v2 (new sidecar)
    m = TableMaintenance(t)
    m.vacuum(retention_ms=0)
    # active sidecar survives; reads still correct
    assert sorted(r.id for r in t.to_df().collect()) == list(range(20, 100))
    # restore to v1 re-points the DV tag (needs v1's sidecar -- which a
    # 0-retention vacuum may have reclaimed; rebuild to test restore)
    t2 = _make(spark, tmp_path / "u")
    t2.delete(Col("id") < Lit(10), deletion_vectors=True)  # v1
    t2.delete(Col("id") < Lit(20), deletion_vectors=True)  # v2
    m2 = TableMaintenance(t2)
    m2.restore(version=1)
    assert sorted(r.id for r in t2.to_df().collect()) == list(range(10, 100))
    m2.restore(version=0)
    assert t2.to_df().count() == 100


def test_dv_survives_checkpoint(spark, tmp_path):
    from connectors_spark.log.checkpoints import write_checkpoint
    from connectors_spark.table import DeltaLog, _log_cache
    t = _make(spark, tmp_path / "t")
    t.delete(Col("id") < Lit(30), deletion_vectors=True)
    write_checkpoint(t.log.snapshot())
    _log_cache.clear()
    t2 = DeltaTable.for_path(spark, str(tmp_path / "t"))
    assert t2.log.snapshot().segment.checkpoint_version is not None
    assert sorted(r.id for r in t2.to_df().collect()) == list(range(30, 100))


def test_dv_then_update_rewrites_live_rows_only(spark, tmp_path):
    t = _make(spark, tmp_path / "t")
    t.delete(Col("id") < Lit(50), deletion_vectors=True)
    t.update({"v": F.col("v") + 1}, Col("id") >= Lit(98))
    rows = {r.id: r.v for r in t.to_df().collect()}
    assert len(rows) == 50
    assert rows[99] == 991 and rows[98] == 981 and rows[97] == 970
    # update rewrote the touched files; deleted rows must not resurrect
    assert min(rows) == 50


def test_dv_full_coverage_removes_file_outright(spark, tmp_path):
    """A DV that covers every physical row of a file drops the file
    (plain remove, no re-add) instead of leaving a zero-live-row file
    active (ADVICE r7; delta-spark removes fully-deleted files during
    DV deletes). SHOW PARTITIONS must not list the dead partition."""
    t = _make(spark, tmp_path / "t", partitioned=True)
    # residual predicate (id >= 0) forces the DV path; it hits every
    # row of partition p='1', so those files end up fully covered
    t.delete((Col("p") == Lit("1")) & (Col("id") >= Lit(0)),
             deletion_vectors=True)
    snap = t.snapshot()
    pvals = {dict(f.partitionValues)["p"] for f in snap.all_files()}
    assert "1" not in pvals  # dead files dropped from the log
    got = sorted(r.p for r in t.show_partitions().collect())
    assert got == ["0", "2", "3"]  # no ghost partition
    assert t.to_df().count() == 75
    # layered: first DV leaves survivors, second kills the remainder
    t2 = _make(spark, tmp_path / "u", partitioned=True)
    t2.delete((Col("p") == Lit("2")) & (Col("id") < Lit(50)),
              deletion_vectors=True)
    files_mid = {dict(f.partitionValues)["p"]
                 for f in t2.snapshot().all_files()}
    assert "2" in files_mid  # partial coverage keeps the file (DV'd)
    t2.delete((Col("p") == Lit("2")) & (Col("id") >= Lit(0)),
              deletion_vectors=True)
    assert "2" not in {dict(f.partitionValues)["p"]
                       for f in t2.snapshot().all_files()}
    assert sorted(r.id for r in t2.to_df().collect()) == \
        [i for i in range(100) if i % 4 != 2]


@pytest.mark.pin
@pytest.mark.parametrize("deep", [False, True])
def test_clone_of_dv_table(spark, tmp_path, deep):
    """CLONE of a table with deletion vectors: the clone reads the
    source's surviving rows, and VACUUM on the clone lists no source
    path. A shallow clone's DV tags name the source's sidecars by
    absolute path; a deep clone copies each sidecar under its own root,
    so it reads with the source gone."""
    import shutil

    from connectors_spark.log.snapshot import canonical_path

    src = _make(spark, tmp_path / "src", partitioned=True)
    src.delete(Col("id") < Lit(10), deletion_vectors=True)
    src.delete(Col("id") >= Lit(95), deletion_vectors=True)
    src_root = src.log.table_path
    cl = DeltaTable.for_path(spark, str(tmp_path / "cl"))
    src.clone_to(cl.path, deep=deep)
    assert sorted(r.id for r in cl.to_df().collect()) == list(range(10, 95))
    sidecars = {canonical_path(r["tags"][DV_TAG], cl.log.table_path)
                for r in cl.snapshot()._files_rows
                if (r["tags"] or {}).get(DV_TAG)}
    assert sidecars and all(os.path.exists(s) for s in sidecars)
    root = cl.log.table_path if deep else src_root
    assert all(s.startswith(root + "/_deletion_vectors/") for s in sidecars)
    listed = TableMaintenance(cl).vacuum(retention_ms=0, dry_run=True)
    assert not [p for p in listed
                if os.path.exists(os.path.join(src_root, p))], listed
    assert listed == []
    if deep:
        shutil.rmtree(src_root)
        assert sorted(r.id for r in DeltaTable.for_path(
            spark, str(tmp_path / "cl")).to_df().collect()) \
            == list(range(10, 95))
