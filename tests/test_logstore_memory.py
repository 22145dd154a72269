"""The commit protocol against a NON-POSIX log store: the in-memory
conditional-put store models an object store (no rename, no hard links —
just atomic put-if-absent under a mutex), proving the LogStore seam the
reference ships per scheme (S3SingleDriverLogStore.scala:32-60,
DelegatingLogStore.scala). Everything above the store — optimistic
commit, retry, conflict detection, log listing, P&M replay — must work
unchanged.
"""

from __future__ import annotations

import os
import threading
import time

import pytest

from connectors_spark.errors import ConcurrentDeleteDeleteException
from connectors_spark.log import filenames as fn
from connectors_spark.log.actions import AddFile, Metadata, Protocol
from connectors_spark.log.logstore import (FileAlreadyExistsError,
                                           InMemoryLogStore,
                                           default_log_store)
from connectors_spark.table import DeltaLog

SCHEMA_JSON = (
    '{"type":"struct","fields":['
    '{"name":"id","type":"long","nullable":true,"metadata":{}},'
    '{"name":"part","type":"string","nullable":true,"metadata":{}}]}'
)


def _metadata():
    return Metadata(schemaString=SCHEMA_JSON, partitionColumns=["part"])


def _add(path, part):
    return AddFile(path=path, partitionValues={"part": part}, size=1,
                   modificationTime=0, dataChange=True)


def test_put_if_absent_and_listing_contract():
    store = InMemoryLogStore()
    store.write("/t/_delta_log/00000000000000000000.json", ["a"])
    with pytest.raises(FileAlreadyExistsError):
        store.write("/t/_delta_log/00000000000000000000.json", ["b"])
    store.write("/t/_delta_log/00000000000000000001.json", ["c"])
    assert store.list_from("/t/_delta_log") == [
        "00000000000000000000.json", "00000000000000000001.json"]
    assert store.list_from(
        "/t/_delta_log", "00000000000000000001.json") == [
        "00000000000000000001.json"]
    assert store.read("/t/_delta_log/00000000000000000000.json") == ["a"]


def test_scheme_dispatch_shares_one_store_per_authority():
    s1 = default_log_store("memory://nsA/table1")
    s2 = default_log_store("memory://nsA/table2")
    s3 = default_log_store("memory://nsB/table1")
    assert s1 is s2
    assert s1 is not s3
    with pytest.raises(NotImplementedError):
        default_log_store("gs://bucket/table")   # no GCS binding (yet)


def test_commit_protocol_on_memory_store(spark):
    """Create-table + append + conflict detection, all through the
    conditional-put store — no POSIX filesystem involved."""
    log = DeltaLog.for_table(spark, "memory://proto/tbl1")
    assert isinstance(log.store, InMemoryLogStore)

    txn = log.start_transaction()
    txn.update_metadata(_metadata())
    v0 = txn.commit([Protocol(), _add("part=a/f0.parquet", "a")], "WRITE")
    assert v0 == 0

    snap = log.snapshot()
    assert snap.metadata.partitionColumns == ["part"]
    assert snap.protocol.minReaderVersion == 1

    # stale txn retries past the winner's blind append and lands at v2
    stale = log.start_transaction()
    winner = log.start_transaction()
    winner.commit([_add("part=b/f1.parquet", "b")], "WRITE")
    v2 = stale.commit([_add("part=c/f2.parquet", "c")], "WRITE")
    assert v2 == 2

    # delete/delete conflict still detected through the memory store
    t1 = log.start_transaction()
    t2 = log.start_transaction()
    rm = _add("part=b/f1.parquet", "b").remove(123)
    t1.commit([rm], "DELETE")
    with pytest.raises(ConcurrentDeleteDeleteException):
        t2.commit([rm], "DELETE")


def test_memory_store_thread_race_loses_no_commit(spark):
    """8 threads race blind appends through conditional-put: every commit
    must land at a distinct version (the FileAlreadyExistsError retry
    loop), none lost."""
    log = DeltaLog.for_table(spark, "memory://proto/tbl2")
    txn = log.start_transaction()
    txn.update_metadata(_metadata())
    txn.commit([Protocol(), _add("part=a/seed.parquet", "a")], "WRITE")

    errors = []

    def append(i):
        try:
            t = log.start_transaction()
            t.commit([_add(f"part=a/f{i}.parquet", "a")], "WRITE")
        except Exception as e:          # noqa: BLE001
            errors.append((i, e))

    threads = [threading.Thread(target=append, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(60)
    assert not errors, errors
    assert log.snapshot().version == 8
    names = log.store.list_from(log.log_path)
    assert len([n for n in names if n.endswith(".json")]) == 9


def assert_state_survives_checkpoint(spark, table_path):
    """Table state on a non-POSIX store, by the one driver fold: a
    3-commit log reads its file plane; taken past the default
    ``checkpointInterval`` (10), the commit at version 10 writes a
    checkpoint through the store, and a fresh DeltaLog reads state from
    that checkpoint plus its tail. Shared by the S3 and HDFS modules."""
    log = DeltaLog.for_table(spark, table_path)
    root = log.table_path

    def path(i):
        return f"{root}/part=a/f{i}.parquet"

    txn = log.start_transaction()
    txn.update_metadata(_metadata())
    txn.commit([Protocol(), _add("part=a/f0.parquet", "a")], "WRITE")
    for i in (1, 2):
        log.start_transaction().commit(
            [_add(f"part=a/f{i}.parquet", "a")], "WRITE")
    assert sorted(r["path"] for r in log.snapshot()._files_rows) == \
        [path(i) for i in range(3)]

    now = int(time.time() * 1000)
    for i in range(3, 13):
        acts = [_add(f"part=a/f{i}.parquet", "a")]
        if i == 5:      # a tombstone inside the retention window
            acts.append(_add("part=a/f1.parquet", "a").remove(now))
        log.start_transaction().commit(acts, "WRITE")
    assert log.store.exists(fn.checkpoint_file_single(log.log_path, 10))

    fresh = DeltaLog(spark, table_path).snapshot()
    assert fresh.segment.checkpoint_version == 10
    assert [fn.delta_version(os.path.basename(p))
            for p in fresh.segment.deltas] == [11, 12]
    assert sorted(r["path"] for r in fresh._files_rows) == \
        sorted(path(i) for i in range(13) if i != 1)
    assert [(r["path"], r["deletionTimestamp"])
            for r in fresh._tombstone_rows] == [(path(1), now)]
    assert fresh.metadata.partitionColumns == ["part"]


def test_state_survives_checkpoint_on_memory_store(spark):
    assert_state_survives_checkpoint(spark, "memory://ckpt/tbl")
