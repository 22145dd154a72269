"""The commit protocol against the boto3 S3 LogStore, backed by moto's
in-process S3 mock: the same commit/conflict matrix as the in-memory
conditional-put store (test_logstore_memory.py), plus the S3-specific
surfaces — If-None-Match put-if-absent, StartAfter-bounded listing,
copy+delete rename, tree removal, stat mapping. Closes the reference's
S10 row (S3SingleDriverLogStore.scala:32-60) — with MULTI-writer safety
the reference's single-driver store could not give, because modern S3
conditional writes make the server the commit arbiter.
"""

from __future__ import annotations

import threading

import pytest

boto3 = pytest.importorskip("boto3")
moto = pytest.importorskip("moto")

from connectors_spark.errors import ConcurrentDeleteDeleteException
from connectors_spark.log.actions import AddFile, Metadata, Protocol
from connectors_spark.log.logstore import (FileAlreadyExistsError,
                                           default_log_store)
from connectors_spark.log.s3store import S3LogStore, _s3_stores
from connectors_spark.table import DeltaLog
from tests.test_logstore_memory import assert_state_survives_checkpoint

BUCKET = "graft-test-bucket"

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


@pytest.fixture()
def s3(monkeypatch):
    """moto-mocked S3 with a fresh bucket; the per-bucket store cache is
    cleared so each test gets a client created inside the mock."""
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "testing")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with moto.mock_aws():
        client = boto3.client("s3")
        client.create_bucket(Bucket=BUCKET)
        _s3_stores.clear()
        yield client
        _s3_stores.clear()


def test_put_if_absent_and_listing_contract(s3):
    store = default_log_store(f"s3://{BUCKET}/t")
    assert isinstance(store, S3LogStore)
    log = f"s3://{BUCKET}/t/_delta_log"
    store.write(f"{log}/00000000000000000000.json", ["a"])
    with pytest.raises(FileAlreadyExistsError):
        store.write(f"{log}/00000000000000000000.json", ["b"])
    store.write(f"{log}/00000000000000000001.json", ["c"])
    assert store.list_from(log) == [
        "00000000000000000000.json", "00000000000000000001.json"]
    # bounded listing: >= start_name, INCLUSIVE of the exact boundary
    assert store.list_from(log, "00000000000000000001.json") == [
        "00000000000000000001.json"]
    assert store.list_from(log, "00000000000000000001") == [
        "00000000000000000001.json"]
    assert store.read(f"{log}/00000000000000000000.json") == ["a"]
    # overwrite path (checkpoint _last_checkpoint semantics)
    store.write(f"{log}/_last_checkpoint", ["v1"], overwrite=True)
    store.write(f"{log}/_last_checkpoint", ["v2"], overwrite=True)
    assert store.read(f"{log}/_last_checkpoint") == ["v2"]


def test_file_plane_helpers(s3):
    store = default_log_store(f"s3://{BUCKET}/t2")
    root = f"s3://{BUCKET}/t2"
    store.write(f"{root}/part=a/f0.parquet", ["x"])
    store.write(f"{root}/part=b/f1.parquet", ["yy"])
    assert store.is_dir(f"{root}/part=a")
    assert not store.is_dir(f"{root}/part=zzz")
    assert store.list_dir(root) == ["part=a", "part=b"]
    assert store.list_files_recursive(root) == [
        "part=a/f0.parquet", "part=b/f1.parquet"]
    size, mtime = store.stat(f"{root}/part=b/f1.parquet")
    assert size == 3 and mtime > 0
    store.rename(f"{root}/part=a/f0.parquet", f"{root}/part=c/f0.parquet")
    assert not store.exists(f"{root}/part=a/f0.parquet")
    assert store.read(f"{root}/part=c/f0.parquet") == ["x"]
    store.copy_file(f"{root}/part=c/f0.parquet", f"{root}/part=d/f0.parquet")
    assert store.exists(f"{root}/part=d/f0.parquet")
    with pytest.raises(FileNotFoundError):
        store.stat(f"{root}/missing")
    with pytest.raises(FileNotFoundError):
        store.read(f"{root}/missing")
    store.remove_tree(f"{root}/part=d")
    assert not store.exists(f"{root}/part=d/f0.parquet")


def test_commit_protocol_on_s3_store(spark, s3):
    """Create-table + append + conflict detection, all through the moto
    S3 store — the metadata plane never touches a POSIX filesystem."""
    log = DeltaLog.for_table(spark, f"s3://{BUCKET}/tbl1")
    assert isinstance(log.store, S3LogStore)

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

    # delete/delete conflict still detected through the S3 store
    t1 = log.start_transaction()
    t2 = log.start_transaction()
    rm = _add("part=b/f1.parquet", "b").remove(123)
    t1.commit([rm], "DELETE")
    with pytest.raises(ConcurrentDeleteDeleteException):
        t2.commit([rm], "DELETE")


def test_s3_store_thread_race_loses_no_commit(spark, s3):
    """8 threads race blind appends through If-None-Match conditional
    put: every commit lands at a distinct version via the
    FileAlreadyExistsError retry loop, none lost."""
    log = DeltaLog.for_table(spark, f"s3://{BUCKET}/tbl2")
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


def test_store_pickles_without_client(s3):
    """Executor closures (publish/vacuum) pickle the store; the boto3
    client must drop out and rebuild lazily in the new process."""
    import pickle

    store = default_log_store(f"s3://{BUCKET}/t3")
    store.write(f"s3://{BUCKET}/t3/a.json", ["z"])   # forces client
    clone = pickle.loads(pickle.dumps(store))
    assert clone._client_obj is None
    # same-process rebuild works against the ambient (mocked) endpoint
    assert clone.read(f"s3://{BUCKET}/t3/a.json") == ["z"]


def test_state_survives_checkpoint_on_s3_store(spark, s3):
    assert_state_survives_checkpoint(spark, f"s3://{BUCKET}/ckpt")
