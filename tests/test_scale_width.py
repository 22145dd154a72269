"""Width smoke at sandbox size (VERDICT r5 task #4): a ~10k-file,
~200-commit table with DV-tagged files and a multi-part checkpoint,
asserting the SCALE properties as pinned tests rather than SCALE.md
prose:

- snapshot build = checkpoint + <=interval tail deltas, never a
  full-log replay (segment shape + driver store.read census)
- commit cost is O(touched files), independent of table width
- RESTORE / VACUUM run their per-file work (existence checks, listing,
  deletes) on executors — the DRIVER performs zero per-file store
  calls (counted via a driver-side store spy: executor processes get a
  pickled copy, so any count observed here happened on the driver)
- coarse wall-clock envelopes, generous enough to never flake

The synthetic AddFiles are real zero-byte files on disk so RESTORE's
distributed existence check and VACUUM's listing see them.
"""

import json
import os
import time
from collections import Counter

import pytest
# Integration-heavy: excluded from the fast inner loop (pytest -m "not slow");
# the full suite still runs these unchanged at round close-out (SURVEY 5).
pytestmark = pytest.mark.slow


from connectors_spark import DeltaTable
from connectors_spark.table import TableMaintenance
from connectors_spark.dv import DV_TAG
from connectors_spark.log.actions import AddFile
from connectors_spark.log.checkpoints import write_checkpoint
from connectors_spark.log.segment import get_log_segment
from connectors_spark.table import DeltaLog

N_COMMITS = 200
FILES_PER_COMMIT = 50
INTERVAL = 50  # delta.checkpointInterval for the fixture


class CountingStore:
    """Driver-side spy: counts method calls made in THIS process.
    Executors deserialize their own copy, so executor-side calls never
    land in these counts — exactly the driver/executor split the
    assertions need."""

    def __init__(self, inner):
        self._inner = inner
        self.counts = Counter()

    def __getattr__(self, name):
        # Never proxy dunders/own attrs: pickle probes __setstate__ etc
        # before __dict__ exists, which would recurse through _inner.
        if name.startswith("__") or name in ("_inner", "counts"):
            raise AttributeError(name)
        attr = getattr(self._inner, name)
        if callable(attr):
            def wrap(*a, __attr=attr, __name=name, **k):
                self.counts[__name] += 1
                return __attr(*a, **k)
            return wrap
        return attr


@pytest.fixture(scope="module")
def wide_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wide") / "tbl")
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    t = DeltaTable.for_path(spark, path)
    t.write(df)                                     # version 0
    t.set_properties({"delta.checkpointInterval": str(INTERVAL)})  # v1
    os.makedirs(os.path.join(path, "_dvs"), exist_ok=True)
    now = int(time.time() * 1000)
    for c in range(N_COMMITS):                      # versions 2..201
        adds = []
        for i in range(FILES_PER_COMMIT):
            rel = f"part-{c:05d}-{i:03d}.parquet"
            open(os.path.join(path, rel), "wb").close()
            tags = None
            if (c * FILES_PER_COMMIT + i) % 500 == 0:
                dv_rel = f"_dvs/dv-{c:05d}-{i:03d}.bin"
                open(os.path.join(path, dv_rel), "wb").close()
                tags = {DV_TAG: dv_rel}
            adds.append(AddFile(path=rel, partitionValues={}, size=1024,
                                modificationTime=now, dataChange=True,
                                tags=tags))
        txn = t.log.start_transaction()
        txn.commit(adds, "WRITE")
    return t, path


def test_snapshot_is_checkpoint_plus_tail(spark, wide_table):
    t, path = wide_table
    log_path = os.path.join(path, "_delta_log")

    # Fresh log (bypasses the module cache) with a spy store: building
    # the latest snapshot must read the _last_checkpoint hint and the
    # <=INTERVAL post-checkpoint deltas — not the 202-commit history.
    fresh = DeltaLog(spark, path)
    fresh.store = CountingStore(fresh.store)
    t0 = time.perf_counter()
    snap = fresh.snapshot()
    n_files = len(snap._files_rows)
    build_s = time.perf_counter() - t0

    seg = snap.segment
    last_ckpt = (N_COMMITS + 1) // INTERVAL * INTERVAL
    assert seg.checkpoint_version == last_ckpt
    assert len(seg.deltas) == N_COMMITS + 1 - last_ckpt
    assert len(seg.deltas) <= INTERVAL
    # initial write's files + every synthetic file
    assert n_files >= N_COMMITS * FILES_PER_COMMIT
    # Driver read census: tail deltas + _last_checkpoint (+ slack for
    # retried hint reads) — nowhere near the 202 a full replay costs.
    assert fresh.store.counts["read"] <= len(seg.deltas) + 5
    assert build_s < 60


def test_commit_cost_independent_of_width(spark, wide_table):
    t, path = wide_table
    spy = CountingStore(t.log.store)
    orig = t.log.store
    t.log.store = spy
    try:
        now = int(time.time() * 1000)
        adds = [AddFile(path=f"extra-{i:03d}.parquet", partitionValues={},
                        size=1, modificationTime=now) for i in range(50)]
        for a in adds:
            open(os.path.join(path, a.path), "wb").close()
        t0 = time.perf_counter()
        txn = t.log.start_transaction()
        v = txn.commit(adds, "WRITE")
        commit_s = time.perf_counter() - t0
    finally:
        t.log.store = orig
    assert v == N_COMMITS + 2
    # O(touched): reads bounded by the post-checkpoint tail, writes by
    # the one commit file (+checkpoint bookkeeping at interval edges);
    # a width-proportional implementation would show ~10k here.
    assert spy.counts["read"] <= INTERVAL + 10
    assert spy.counts["write"] <= 3
    assert commit_s < 20


def test_multipart_checkpoint_roundtrip(spark, wide_table):
    t, path = wide_table
    log_path = os.path.join(path, "_delta_log")
    snap = t.log.snapshot()
    write_checkpoint(snap, parts=3)

    hint = json.loads(t.log.store.read(
        os.path.join(log_path, "_last_checkpoint"))[0])
    assert hint["parts"] == 3

    fresh = DeltaLog(spark, path)
    seg = get_log_segment(fresh.store, log_path)
    assert len(seg.checkpoint_files) == 3
    assert seg.checkpoint_version == snap.version
    assert len(fresh.snapshot()._files_rows) == len(snap._files_rows)


def test_restore_and_vacuum_no_driver_file_loops(spark, wide_table):
    t, path = wide_table
    cur = t.log.snapshot()
    n_cur = len(cur._files_rows)
    target_v = 100
    n_target = len(t.log.snapshot_for_version(target_v)._files_rows)

    spy = CountingStore(t.log.store)
    orig = t.log.store
    t.log.store = spy
    try:
        maint = TableMaintenance(t)
        res = maint.restore(version=target_v)
        # RESTORE's per-file existence checks run inside mapInPandas on
        # executors — the driver's store performs only O(1) log
        # bookkeeping (a per-file loop would show ~5k calls here).
        assert spy.counts["exists"] <= 5
        assert spy.counts["stat"] <= 5
        assert res["filesRemoved"] == n_cur - n_target

        doomed = maint.vacuum(retention_ms=0, dry_run=True)
        # VACUUM lists subtrees and stats candidates on executors too;
        # driver-side only the top-level seed listing is allowed.
        assert spy.counts["stat"] <= 5
        assert spy.counts["list_files_recursive"] == 0
        # Doomed = every data file RESTORE tombstoned, plus the DV
        # sidecars those files referenced (unreferenced sidecars are
        # reclaimable too).
        data_doomed = [d for d in doomed if not d.startswith("_dvs/")]
        dv_doomed = [d for d in doomed if d.startswith("_dvs/")]
        assert len(data_doomed) == n_cur - n_target
        # Sidecars tagged on commits c>=99 (versions past the target):
        # c % 10 == 0 puts exactly c=100,110,...,190 in range.
        assert len(dv_doomed) == 10
        assert all(int(d.split("-")[1]) >= 100 for d in dv_doomed)
    finally:
        t.log.store = orig


def test_optimize_commit_width_bounded(spark, tmp_path):
    """VERDICT r9 #5: full-table OPTIMIZE must not funnel millions of
    small files into ONE commit. With max_actions_per_commit set, each
    commit's action count stays bounded, and the multi-commit result
    equals a single-commit OPTIMIZE (same rows, fully compacted)."""
    from pyspark.sql import functions as F

    from connectors_spark.log import filenames as fn
    from connectors_spark.log.actions import (AddFile as _A,
                                              RemoveFile as _R)
    from connectors_spark.log.actions import from_json_line

    def mk(path):
        t = DeltaTable.for_path(spark, path)
        df = spark.range(3000).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).cast("string").alias("p"))
        t.write(df.repartition(60), partition_by=["p"])
        # 60 partitions × 3 partition values → ~180 small files
        return t

    t1 = mk(str(tmp_path / "multi"))
    v0 = t1.snapshot().version
    n_files = len(t1.snapshot().all_files())
    assert n_files > 100
    res = TableMaintenance(t1).optimize(max_actions_per_commit=80)
    assert res["filesRemoved"] == n_files
    # every OPTIMIZE commit's width is bounded
    widths = []
    for v in range(v0 + 1, res["version"] + 1):
        lines = t1.log.store.read(fn.delta_file(t1.log.log_path, v))
        acts = [from_json_line(ln) for ln in lines]
        widths.append(sum(1 for a in acts if isinstance(a, (_A, _R))))
    assert len(widths) > 1, "expected a multi-commit OPTIMIZE"
    assert all(w <= 80 for w in widths), widths
    # and the result matches a single-commit OPTIMIZE bit-for-bit
    t2 = mk(str(tmp_path / "single"))
    res2 = TableMaintenance(t2).optimize()
    assert res["filesAdded"] == res2["filesAdded"]
    a = sorted(r.k for r in t1.to_df().collect())
    b = sorted(r.k for r in t2.to_df().collect())
    assert a == b == list(range(3000))
    assert len(t1.snapshot().all_files()) == len(t2.snapshot().all_files())


def test_optimize_batch_skips_concurrently_removed_victims(spark, tmp_path):
    """ADVICE r10: victims are computed from the ORIGINAL snapshot; a
    concurrent delete that lands BEFORE a later batch's fresh txn is
    not a 'winning commit' (J4 never fires), so without the per-batch
    live-file intersection the batch would commit a duplicate
    RemoveFile and the incremental .crc chain would double-decrement.
    Pin: one RemoveFile per path across the whole log, and
    verify_checksum stays green."""
    from pyspark.sql import functions as F

    from connectors_spark.expressions import Col, Lit
    from connectors_spark.log import filenames as fn
    from connectors_spark.log.actions import RemoveFile, from_json_line
    from connectors_spark.log.snapshot import canonical_path

    t = DeltaTable.for_path(spark, str(tmp_path / "obc"))
    df = spark.range(3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"))
    t.write(df.repartition(60), partition_by=["p"])
    n_files = len(t.snapshot().all_files())
    assert n_files > 100

    orig_start = t.log.start_transaction
    state = {"calls": 0, "fired": False}

    def hijack():
        # Call #1 is optimize's INITIAL txn; call #2 is batch 1's fresh
        # txn — sneak in a CONCURRENT whole-table delete right before it
        # (the delete recurses through this hook with fired already set,
        # reaching the real start_transaction).
        state["calls"] += 1
        if state["calls"] == 2 and not state["fired"]:
            state["fired"] = True
            t.delete()
        return orig_start()

    t.log.start_transaction = hijack
    try:
        res = TableMaintenance(t).optimize(max_actions_per_commit=80)
    finally:
        t.log.start_transaction = orig_start
    assert state["fired"], "expected a multi-batch OPTIMIZE"
    # batch 0 ran before the concurrent delete; later batches must have
    # skipped their (now dead) victims entirely
    assert res["filesRemoved"] < n_files

    # exactly one RemoveFile per canonical path across the entire log
    head = t.snapshot().version
    removes = Counter()
    for v in range(head + 1):
        for ln in t.log.store.read(fn.delta_file(t.log.log_path, v)):
            a = from_json_line(ln)
            if isinstance(a, RemoveFile):
                removes[canonical_path(a.path, t.log.table_path)] += 1
    dupes = {p: c for p, c in removes.items() if c > 1}
    assert not dupes, f"duplicate RemoveFile for {len(dupes)} paths"

    # and the .crc chain never double-decremented
    out = TableMaintenance(t).verify_checksum()
    assert out["numFiles"] == len(t.snapshot()._files_rows)


def test_clone_commit_carries_every_source_file(spark, wide_table):
    """CLONE of a 10k-file table commits the source's file set exactly
    (shallow: the same physical paths) and extends the checksum chain
    to the clone's true file count."""
    t, path = wide_table
    src = t.snapshot()
    tgt = path + "_clone"
    res = DeltaTable.for_path(spark, path).clone_to(tgt)
    assert res["filesCloned"] == len(src._files_rows)
    clone = DeltaTable.for_path(spark, tgt)
    assert ({r["path"] for r in clone.snapshot()._files_rows}
            == {r["path"] for r in src._files_rows})
    out = TableMaintenance(clone).verify_checksum()
    assert out["checksum_present"]
    assert out["numFiles"] == len(src._files_rows)
