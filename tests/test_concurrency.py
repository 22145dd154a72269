"""Concurrent-commit matrix, modeled on the reference's
OSSCompatibilitySuite.scala:216-421 + OptimisticTransactionSuite scenarios:
which pairs of concurrent transactions must succeed and which must raise.
"""

from __future__ import annotations

import time

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow

from pyspark.sql import functions as F

from connectors_spark import DeltaTable, Metadata, Protocol
from connectors_spark.errors import (ConcurrentAppendException,
                                     ConcurrentDeleteDeleteException,
                                     ConcurrentDeleteReadException,
                                     ConcurrentTransactionException,
                                     MetadataChangedException,
                                     ProtocolChangedException)
from connectors_spark.expressions import Col, Lit
from connectors_spark.log.actions import SetTransaction
from tests.conftest import read_table


def _partitioned_table(spark, path):
    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(path))
    t.write(orders, partition_by=["o_orderstatus"])
    return t, orders


def _stage(t, df, status):
    """Stage files for partition o_orderstatus=<status> without committing."""
    from connectors_spark.writer import stage_and_collect
    return stage_and_collect(df.where(f"o_orderstatus = '{status}'"),
                             t.path, ["o_orderstatus"])


def test_disjoint_partition_appends_allowed(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "a")
    txn1 = t.log.start_transaction()
    txn1.mark_files_as_read(Col("o_orderstatus") == "F")
    txn2 = t.log.start_transaction()
    txn2.mark_files_as_read(Col("o_orderstatus") == "O")
    adds2 = _stage(t, orders.limit(50), "O")
    v2 = txn2.commit(adds2, "WRITE")
    # txn1 read partition F; txn2 appended to O -> no conflict, retries to v2+1
    adds1 = _stage(t, orders.limit(50), "F")
    v1 = txn1.commit(adds1, "WRITE")
    assert v1 == v2 + 1


def test_append_into_read_partition_conflicts(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "b")
    txn1 = t.log.start_transaction()
    txn1.mark_files_as_read(Col("o_orderstatus") == "F")
    DeltaTable.for_path(spark, t.path).write(
        orders.where("o_orderstatus = 'F'").limit(20), mode="append")
    adds1 = _stage(t, orders.limit(50), "F")
    with pytest.raises(ConcurrentAppendException):
        txn1.commit(adds1, "WRITE")


def test_blind_appends_never_conflict_with_each_other(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "c")
    txn1 = t.log.start_transaction()   # no reads recorded -> blind append
    DeltaTable.for_path(spark, t.path).write(orders.limit(30), mode="append")
    adds1 = _stage(t, orders.limit(50), "F")
    v = txn1.commit(adds1, "WRITE")
    assert v == 2


def test_delete_vs_disjoint_read_allowed(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "d")
    txn1 = t.log.start_transaction()
    txn1.mark_files_as_read(Col("o_orderstatus") == "O")
    DeltaTable.for_path(spark, t.path).delete(Col("o_orderstatus") == "F")
    adds1 = _stage(t, orders.limit(50), "O")
    v = txn1.commit(adds1, "WRITE")
    assert v == 2


def test_delete_read_overlap_conflicts(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "e")
    txn1 = t.log.start_transaction()
    files = txn1.mark_files_as_read(Col("o_orderstatus") == "F")
    assert files
    DeltaTable.for_path(spark, t.path).delete(Col("o_orderstatus") == "F")
    adds1 = _stage(t, orders.limit(50), "F")
    with pytest.raises((ConcurrentDeleteReadException,
                        ConcurrentAppendException)):
        txn1.commit(adds1, "WRITE")


def test_delete_delete_conflicts(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "f")
    txn1 = t.log.start_transaction()
    files = [f for f in txn1.snapshot.all_files()
             if f.partitionValues.get("o_orderstatus") == "F"]
    now = int(time.time() * 1000)
    removes = [f.remove(now) for f in files]
    DeltaTable.for_path(spark, t.path).delete(Col("o_orderstatus") == "F")
    with pytest.raises(ConcurrentDeleteDeleteException):
        txn1.commit(removes, "DELETE")


def test_metadata_change_conflicts(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "g")
    txn1 = t.log.start_transaction()
    txn1.read_whole_table()
    # winning commit changes metadata (adds a nullable column)
    t2 = DeltaTable.for_path(spark, t.path)
    t2.write(orders.withColumn(
        "extra", F.when(F.col("o_orderkey") >= 0, F.lit("x"))),
        mode="append")
    adds1 = _stage(t, orders.limit(50), "F")
    with pytest.raises(MetadataChangedException):
        txn1.commit(adds1, "WRITE")


def test_txn_overlap_conflicts(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "h")
    txn1 = t.log.start_transaction()
    assert txn1.txn_version("app-1") == -1
    txn2 = t.log.start_transaction()
    txn2.commit([SetTransaction("app-1", 7)], "STREAMING UPDATE")
    adds1 = _stage(t, orders.limit(50), "F")
    with pytest.raises(ConcurrentTransactionException):
        txn1.commit(adds1 + [SetTransaction("app-1", 8)], "STREAMING UPDATE")


def test_protocol_change_conflicts_with_any(spark, tmp_path):
    # Reference OSSCompatibilitySuite.scala:216-421 — a winning commit
    # that raises the protocol aborts EVERY overlapping txn, even a
    # blind append that read nothing (no isolation-level carve-out,
    # unlike J2's blind-append exemption).
    t, orders = _partitioned_table(spark, tmp_path / "p1")
    txn1 = t.log.start_transaction()  # blind append: no reads marked
    txn2 = t.log.start_transaction()
    txn2.commit([Protocol(1, 2)], "UPGRADE PROTOCOL")
    adds1 = _stage(t, orders.limit(50), "F")
    with pytest.raises(ProtocolChangedException):
        txn1.commit(adds1, "WRITE")


def test_read_whole_table_vs_delete_conflicts(spark, tmp_path):
    # readWholeTable + ANY winning remove must abort (J3 whole-table
    # arm), even when the deleted partition is disjoint from what the
    # txn wrote — the read covered the whole table.
    t, orders = _partitioned_table(spark, tmp_path / "p2")
    txn1 = t.log.start_transaction()
    txn1.read_whole_table()
    DeltaTable.for_path(spark, t.path).delete(Col("o_orderstatus") == "F")
    adds1 = _stage(t, orders.limit(50), "O")
    with pytest.raises(ConcurrentDeleteReadException):
        txn1.commit(adds1, "WRITE")


@pytest.mark.pin
@pytest.mark.parametrize("pred,added", [(Col("p") == Lit("1"), 1),
                                        (Col("p").isin(1, "2"), 2)],
                         ids=["string_literal", "mixed_in_list"])
def test_string_literal_on_int_partition_conflicts(spark, tmp_path, pred,
                                                   added):
    # A read predicate is recorded bound to the schema: "1" on an int
    # partition column decodes to 1, so J2 evaluates it against the
    # concurrent add instead of comparing int with str (TypeError).
    t = DeltaTable.for_path(spark, str(tmp_path / "sl"))
    t.write(spark.range(40).select((F.col("id") % 4).cast("int").alias("p"),
                                   F.col("id").alias("v")),
            partition_by=["p"])
    txn = t.log.start_transaction()
    files = txn.mark_files_as_read(pred)
    assert files and {f.partitionValues["p"] for f in files} <= {"1", "2"}
    DeltaTable.for_path(spark, t.path).write(
        spark.createDataFrame([(added, 99)], "p int, v long"),
        mode="append")
    with pytest.raises(ConcurrentAppendException):
        txn.commit([files[0].remove(int(time.time() * 1000))], "DELETE")


def test_read_whole_table_vs_blind_append_conflicts(spark, tmp_path):
    # The whole-table read also covers files a winning BLIND APPEND
    # adds under serializable isolation (reference
    # OptimisticTransactionSuite "readWholeTable" arms).
    t, orders = _partitioned_table(spark, tmp_path / "p3")
    txn1 = t.log.start_transaction()
    txn1.read_whole_table()
    DeltaTable.for_path(spark, t.path).write(
        orders.where("o_orderstatus = 'O'").limit(20), mode="append")
    adds1 = _stage(t, orders.limit(50), "F")
    with pytest.raises(ConcurrentAppendException):
        txn1.commit(adds1, "WRITE")


def test_set_transaction_visible(spark, tmp_path):
    t, orders = _partitioned_table(spark, tmp_path / "i")
    txn = t.log.start_transaction()
    txn.commit([SetTransaction("job-42", 3)], "STREAMING UPDATE")
    snap = t.log.snapshot()
    assert snap.txn_version("job-42") == 3
    assert snap.txn_version("unknown") == -1


def test_parallel_append_thread_race_loses_nothing(spark, tmp_path):
    """Eight threads blind-append concurrently through the put-if-absent
    commit path: every commit must land at a distinct version with no
    lost updates — the mutual-exclusion contract of the log store under
    a real race, not a staged interleaving."""
    import threading

    from pyspark.sql import functions as F

    from connectors_spark.table import DeltaTable

    path = str(tmp_path / "race")
    t = DeltaTable.for_path(spark, path)
    t.write(spark.range(0, 10).select(F.col("id")))

    errors = []

    def append(i):
        try:
            df = spark.range(100 * i, 100 * i + 10).select(F.col("id"))
            DeltaTable.for_path(spark, path).write(df)
        except Exception as e:          # noqa: BLE001
            errors.append((i, e))

    threads = [threading.Thread(target=append, args=(i,))
               for i in range(1, 9)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(120)
    assert not errors, errors
    snap = t.log.update()
    assert snap.version == 8            # 8 commits after version 0
    assert t.to_df().count() == 90      # 10 initial + 8 × 10, none lost


def test_disjoint_partition_merges_both_commit(spark, tmp_path):
    """Two merges scoped (via ``predicate``) to disjoint partitions must
    BOTH commit: the txn records the partition predicate instead of a
    whole-table read, so the loser's conflict check sees only
    non-overlapping adds/removes and retries successfully. A barrier in
    the staging step guarantees both txns start before either commits —
    a real overlap, not a lucky serialization."""
    import threading

    import connectors_spark.table as table_mod

    t, orders = _partitioned_table(spark, tmp_path / "mrg")
    n_f = t.to_df().where("o_orderstatus = 'F'").count()
    n_o = t.to_df().where("o_orderstatus = 'O'").count()

    barrier = threading.Barrier(2, timeout=120)
    orig_stage = table_mod.stage_and_collect

    def staged_with_barrier(df, *a, **kw):
        barrier.wait()
        return orig_stage(df, *a, **kw)

    def run_merge(status, errors):
        try:
            src = (orders.where(f"o_orderstatus = '{status}'").limit(5)
                   .select("o_orderkey", "o_orderstatus")
                   .withColumn("new_price", F.lit(1.5)))
            DeltaTable.for_path(spark, str(tmp_path / "mrg")).merge(
                src,
                "t.o_orderkey = s.o_orderkey AND "
                f"t.o_orderstatus = '{status}'",
                when_matched_update={"o_totalprice": "s.new_price"},
                when_not_matched_insert=False,
                predicate=(Col("o_orderstatus") == status))
        except Exception as e:          # noqa: BLE001
            errors.append((status, e))

    table_mod.stage_and_collect = staged_with_barrier
    try:
        errors: list = []
        th1 = threading.Thread(target=run_merge, args=("F", errors))
        th2 = threading.Thread(target=run_merge, args=("O", errors))
        th1.start(); th2.start()
        th1.join(180); th2.join(180)
    finally:
        table_mod.stage_and_collect = orig_stage
    assert not errors, errors
    snap = t.log.update()
    assert snap.version == 2            # v0 write + both merges landed
    df = t.to_df()
    # rows preserved, 5 per partition rewritten
    assert df.where("o_orderstatus = 'F'").count() == n_f
    assert df.where("o_orderstatus = 'O'").count() == n_o
    assert df.where("o_totalprice = 1.5").count() == 10


def test_overlapping_merges_conflict_without_predicate(spark, tmp_path):
    """Same overlap WITHOUT the predicate: merge records a whole-table
    read, so the loser must abort with ConcurrentAppendException — the
    narrowing above is what enables disjoint concurrency, not a
    loosened conflict check."""
    import threading

    import connectors_spark.table as table_mod

    t, orders = _partitioned_table(spark, tmp_path / "mrgc")
    barrier = threading.Barrier(2, timeout=120)
    orig_stage = table_mod.stage_and_collect

    def staged_with_barrier(df, *a, **kw):
        barrier.wait()
        return orig_stage(df, *a, **kw)

    def run_merge(status, errors):
        try:
            src = (orders.where(f"o_orderstatus = '{status}'").limit(5)
                   .select("o_orderkey", "o_orderstatus")
                   .withColumn("new_price", F.lit(1.5)))
            DeltaTable.for_path(spark, str(tmp_path / "mrgc")).merge(
                src,
                "t.o_orderkey = s.o_orderkey AND "
                f"t.o_orderstatus = '{status}'",
                when_matched_update={"o_totalprice": "s.new_price"},
                when_not_matched_insert=False)
        except Exception as e:          # noqa: BLE001
            errors.append((status, e))

    table_mod.stage_and_collect = staged_with_barrier
    try:
        errors: list = []
        th1 = threading.Thread(target=run_merge, args=("F", errors))
        th2 = threading.Thread(target=run_merge, args=("O", errors))
        th1.start(); th2.start()
        th1.join(180); th2.join(180)
    finally:
        table_mod.stage_and_collect = orig_stage
    assert len(errors) == 1, errors
    assert isinstance(errors[0][1], ConcurrentAppendException), errors


def test_merge_predicate_must_be_partition_scoped(spark, tmp_path):
    """A merge ``predicate`` over a NON-partition column cannot prune
    files by partitionValues and would evaluate three-valued-unknown in
    the J2 conflict check — it must be rejected at the API, not allowed
    to silently shrink the conflict footprint (lost update)."""
    t, orders = _partitioned_table(spark, tmp_path / "mrgval")
    src = (orders.limit(3).select("o_orderkey", "o_orderstatus")
           .withColumn("new_price", F.lit(9.0)))
    with pytest.raises(ValueError, match="partition columns"):
        t.merge(src, "t.o_orderkey = s.o_orderkey",
                when_matched_update={"o_totalprice": "s.new_price"},
                when_not_matched_insert=False,
                predicate=(Col("o_totalprice") > 0.0))


def test_unknown_predicate_eval_conflicts_conservatively(spark, tmp_path):
    """J2 three-valued resolution: a concurrent AddFile whose
    partitionValues can't resolve a read predicate's column (a
    data-column predicate) evaluates to unknown — unknown overlap MUST
    abort, matching the reference's conservative treatment; silently
    passing it would let two overlapping writers both commit."""
    t, orders = _partitioned_table(spark, tmp_path / "mrgunk")
    txn = t.log.start_transaction()
    txn.mark_files_as_read(Col("o_totalprice") > 0.0)
    # concurrent winner rewrites files (non-blind-append: its AddFiles
    # must pass our J2 check) while our txn is in flight
    DeltaTable.for_path(spark, str(tmp_path / "mrgunk")).update(
        {"o_totalprice": "o_totalprice + 0.0"},
        predicate=(Col("o_orderstatus") == "F"))
    with pytest.raises(ConcurrentAppendException):
        txn.commit([], "TEST", {})


def test_optimize_concurrent_with_blind_append(spark, tmp_path):
    """Compaction vs a blind append touching different files: both must
    commit — OPTIMIZE's dataChange=false removes only its victims, the
    append adds fresh files, no path intersects (the reference's
    file-layout-vs-data-transaction separation)."""
    from connectors_spark.table import TableMaintenance

    t, orders = _partitioned_table(spark, tmp_path / "oa")
    maint = TableMaintenance(t)
    # start the optimize txn implicitly by racing: run a blind append
    # between optimize's snapshot pin and commit — simplest faithful
    # interleaving is append first THEN optimize over the stale cache,
    # so optimize's retry loop sees the append as a winning commit.
    v_before = t.snapshot().version
    t2 = DeltaTable.for_path(spark, t.path)
    t2.write(orders.limit(20), mode="append", partition_by=["o_orderstatus"])
    res = maint.optimize(target_file_size=1 << 30)
    assert res["version"] > v_before + 1   # committed after the append
    assert t.to_df().count() == orders.count() + 20


def test_optimize_conflicts_with_concurrent_delete_of_victims(spark,
                                                              tmp_path):
    """Compaction racing a DELETE that tombstones its victim files must
    raise (delete/delete on the shared paths) — rewriting files another
    transaction deleted would resurrect dead rows."""
    from connectors_spark.log.snapshot import canonical_path
    from connectors_spark.txn import OptimisticTransaction  # noqa: F401

    t, orders = _partitioned_table(spark, tmp_path / "od")
    txn1 = t.log.start_transaction()
    victims = [f for f in txn1.snapshot.all_files()
               if f.partitionValues.get("o_orderstatus") == "F"]
    assert victims
    now = int(time.time() * 1000)
    # concurrent DELETE wins first
    DeltaTable.for_path(spark, t.path).delete(Col("o_orderstatus") == "F")
    removes = [f.remove(now, data_change=False) for f in victims]
    with pytest.raises(ConcurrentDeleteDeleteException):
        txn1.commit(removes, "OPTIMIZE")


def test_set_properties_takes_effect_immediately(spark, tmp_path):
    from connectors_spark.errors import DeltaError

    orders = read_table(spark, "orders")
    t = DeltaTable.for_path(spark, str(tmp_path / "props"))
    t.write(orders.limit(50))
    v = t.set_properties({"delta.appendOnly": "true",
                          "custom.owner": "pipelines"})
    assert v == 1
    snap = t.snapshot()
    assert snap.metadata.configuration["delta.appendOnly"] == "true"
    assert snap.metadata.configuration["custom.owner"] == "pipelines"
    hist = t.history()
    assert hist[0]["operation"] == "SET TBLPROPERTIES"
    # enforcement is live: removals now rejected, appends still fine
    with pytest.raises(DeltaError):
        t.delete(Col("o_orderkey") < 100)
    t.write(orders.limit(5), mode="append")
    assert t.to_df().count() == 55


def test_reorg_purge_conflicts_with_concurrent_dv_delete(spark, tmp_path):
    """PURGE racing a DV delete that re-adds its victim files must
    raise: committing the purge would clobber the newer deletion vector
    and resurrect the freshly deleted rows."""
    from connectors_spark.table import TableMaintenance

    t, orders = _partitioned_table(spark, tmp_path / "rp")
    t.delete((Col("o_orderstatus") == "F") & (Col("o_orderkey") <= 200),
             deletion_vectors=True)
    maint = TableMaintenance(t)
    # pin purge's snapshot by starting it manually: compute victims
    # from the stale view, let a second DV delete win, then commit
    txn1 = t.log.start_transaction()
    from connectors_spark.dv import DV_TAG
    victims = [f for f in txn1.snapshot.all_files()
               if (f.tags or {}).get(DV_TAG)]
    assert victims
    DeltaTable.for_path(spark, t.path).delete(
        (Col("o_orderstatus") == "F") & (Col("o_orderkey") <= 400),
        deletion_vectors=True)
    now = int(time.time() * 1000)
    removes = [f.remove(now, data_change=False) for f in victims]
    with pytest.raises(ConcurrentDeleteDeleteException):
        txn1.commit(removes, "REORG")
    # the retried purge (fresh snapshot) succeeds and drops every DV
    res = TableMaintenance(t).reorg_purge()
    assert res["filesPurged"] >= 1
    assert not any((f.tags or {}).get(DV_TAG)
                   for f in t.log.snapshot().all_files())
    want = orders.filter(
        "NOT (o_orderstatus = 'F' AND o_orderkey <= 400)").count()
    assert t.to_df().count() == want


# ---------------------------------------------------------------------------
# Cross-PROCESS put-if-absent race (VERDICT r7 #5): the 8-thread races
# above share one GIL, which can serialize the critical section and mask
# a broken create-exclusive. Spawned processes race the POSIX store's
# os.link create-exclusive for real. (The moto S3 mock is in-process
# only — a cross-process S3 race needs a moto server — so the S3 store's
# conditional-PUT contract stays covered by the threaded matrix.)

def _race_writer(args):
    """Each process commits `n_commits` payloads, racing for version
    slots: on FileAlreadyExistsError it re-reads the winner and retries
    at the next version — the reference's LogStore retry contract
    (HadoopFileSystemLogStore.scala:37-63)."""
    log_dir, writer_id, n_commits = args
    import os as _os
    import sys as _sys
    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))
    from connectors_spark.log.logstore import (FileAlreadyExistsError,
                                               LogStore)
    store = LogStore()
    committed = []
    version = 0
    for i in range(n_commits):
        payload = f'{{"writer": {writer_id}, "seq": {i}}}'
        while True:
            path = _os.path.join(log_dir, "%020d.json" % version)
            try:
                store.write(path, [payload], overwrite=False)
                committed.append(version)
                version += 1
                break
            except FileAlreadyExistsError:
                version += 1   # lost the slot: retry at the next one
    return writer_id, committed


def test_multiprocess_commit_race_one_winner_per_version(tmp_path):
    import json
    import multiprocessing as mp

    log_dir = str(tmp_path / "_delta_log")
    n_writers, n_commits = 4, 12
    ctx = mp.get_context("spawn")
    with ctx.Pool(n_writers) as pool:
        results = pool.map(_race_writer,
                           [(log_dir, w, n_commits)
                            for w in range(n_writers)])
    # every commit landed, every version has exactly one winner
    all_versions = [v for _, vs in results for v in vs]
    assert len(all_versions) == n_writers * n_commits
    assert sorted(all_versions) == list(range(n_writers * n_commits))
    # file contents are intact single-writer payloads (no torn writes)
    import os
    names = sorted(os.listdir(log_dir))
    assert len(names) == n_writers * n_commits
    seen = set()
    for v, name in enumerate(names):
        assert name == "%020d.json" % v
        with open(os.path.join(log_dir, name)) as fh:
            rec = json.load(fh)
        assert (rec["writer"], rec["seq"]) not in seen
        seen.add((rec["writer"], rec["seq"]))
    # per-writer sequences committed in order
    for wid, vs in results:
        assert vs == sorted(vs)
