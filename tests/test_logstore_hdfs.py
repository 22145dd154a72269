"""The commit protocol on ``hdfs://`` URIs: HdfsLogStore implements
put-if-absent as temp-file + atomic EXCLUSIVE rename — the
HDFSLogStore.scala:35-55 semantics — against a Hadoop-FileSystem-shaped
client. No HDFS cluster exists in this environment, so the tests drive
the identical store logic through a local-filesystem client whose
rename has true HDFS behavior (atomic via hard-link, fails when the
destination exists); the pyarrow/libhdfs binding shares every line
above the client seam. Everything above the store — optimistic commit,
retry, conflict detection, listing, P&M replay — must work unchanged
(third scheme after file:// and memory:///s3://).
"""

from __future__ import annotations

import os
import posixpath
import shutil
import threading

import pytest

from connectors_spark.errors import ConcurrentDeleteDeleteException
from connectors_spark.log.actions import AddFile, Metadata, Protocol
from connectors_spark.log.hdfsstore import (HadoopFsClient, HdfsLogStore,
                                            register_rename_client_factory,
                                            rename_log_store_for)
from connectors_spark.log.logstore import (FileAlreadyExistsError,
                                           default_log_store)
from connectors_spark.table import DeltaLog
from tests.test_logstore_memory import assert_state_survives_checkpoint

SCHEMA_JSON = (
    '{"type":"struct","fields":['
    '{"name":"id","type":"long","nullable":true,"metadata":{}},'
    '{"name":"part","type":"string","nullable":true,"metadata":{}}]}'
)


class LocalHadoopFsClient(HadoopFsClient):
    """Hadoop-FS-shaped client over a local directory. ``rename`` has
    HDFS FileContext semantics: atomic, and with overwrite=False it
    raises FileExistsError when the destination exists (hard-link +
    unlink gives exactly that on POSIX)."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _p(self, path: str) -> str:
        rest = path.split("://", 1)[1]
        slash = rest.find("/")
        return self.root + (rest[slash:] if slash >= 0 else "/")

    def create(self, path: str, data: bytes) -> None:
        p = self._p(path)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def read(self, path: str) -> bytes:
        try:
            with open(self._p(path), "rb") as f:
                return f.read()
        except FileNotFoundError:
            raise FileNotFoundError(path) from None

    def rename(self, src: str, dst: str, overwrite: bool = False) -> None:
        s, d = self._p(src), self._p(dst)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        if overwrite:
            os.replace(s, d)
        else:
            os.link(s, d)          # atomic create-exclusive
            os.unlink(s)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._p(path))

    def delete(self, path: str) -> None:
        os.unlink(self._p(path))

    def delete_tree(self, dir_path: str) -> None:
        shutil.rmtree(self._p(dir_path), ignore_errors=True)

    def list_dir(self, dir_path: str):
        p = self._p(dir_path)
        return sorted(os.listdir(p)) if os.path.isdir(p) else []

    def list_files_recursive(self, dir_path: str):
        base = self._p(dir_path)
        out = []
        for root, _dirs, files in os.walk(base):
            rel = os.path.relpath(root, base)
            rel = "" if rel == "." else rel
            out.extend(posixpath.join(rel, f) if rel else f for f in files)
        return sorted(out)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._p(path))

    def stat(self, path: str):
        st = os.stat(self._p(path))
        return st.st_size, int(st.st_mtime * 1000)


@pytest.fixture()
def hdfs_root(tmp_path):
    root = str(tmp_path / "hdfs_ns")
    os.makedirs(root, exist_ok=True)
    register_rename_client_factory(
        "hdfs", lambda _auth: LocalHadoopFsClient(root))
    yield root
    register_rename_client_factory("hdfs", None)


def _metadata():
    return Metadata(schemaString=SCHEMA_JSON, partitionColumns=["part"])


def _add(path, part):
    return AddFile(path=path, partitionValues={"part": part}, size=1,
                   modificationTime=0, dataChange=True)


def test_put_if_absent_via_exclusive_rename(hdfs_root):
    store = default_log_store("hdfs://nn1/tbl")
    assert isinstance(store, HdfsLogStore)
    log_dir = "hdfs://nn1/tbl/_delta_log"
    store.write(f"{log_dir}/00000000000000000000.json", ["a"])
    with pytest.raises(FileAlreadyExistsError):
        store.write(f"{log_dir}/00000000000000000000.json", ["b"])
    # the loser's temp file is cleaned up, never listed
    store.write(f"{log_dir}/00000000000000000001.json", ["c"])
    assert store.list_from(log_dir) == [
        "00000000000000000000.json", "00000000000000000001.json"]
    assert store.list_from(log_dir, "00000000000000000001.json") == [
        "00000000000000000001.json"]
    assert store.read(f"{log_dir}/00000000000000000000.json") == ["a"]
    # overwrite=True replaces (the _last_checkpoint path)
    store.write(f"{log_dir}/_last_checkpoint", ["v1"], overwrite=True)
    store.write(f"{log_dir}/_last_checkpoint", ["v2"], overwrite=True)
    assert store.read(f"{log_dir}/_last_checkpoint") == ["v2"]


def test_store_shared_per_authority(hdfs_root):
    s1 = rename_log_store_for("hdfs://nn1/t1")
    s2 = rename_log_store_for("hdfs://nn1/t2")
    assert s1 is s2


def test_commit_protocol_on_hdfs_store(spark, hdfs_root):
    log = DeltaLog.for_table(spark, "hdfs://nn1/proto/tbl1")
    assert isinstance(log.store, HdfsLogStore)

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

    # delete/delete conflict detected through the hdfs store
    t1 = log.start_transaction()
    t2 = log.start_transaction()
    rm = _add("part=b/f1.parquet", "b").remove(123)
    t1.commit([rm], "DELETE")
    with pytest.raises(ConcurrentDeleteDeleteException):
        t2.commit([rm], "DELETE")


def test_azure_schemes_bind_to_rename_store(spark, tmp_path):
    """AzureLogStore.scala: Azure's Hadoop FileSystems give atomic
    exclusive rename + consistent listing — the same contract as HDFS —
    so abfss:// (and wasbs://) bind to the identical rename store
    through a per-scheme client factory."""
    root = str(tmp_path / "abfs_ns")
    os.makedirs(root, exist_ok=True)
    register_rename_client_factory(
        "abfss", lambda _auth: LocalHadoopFsClient(root))
    try:
        log = DeltaLog.for_table(
            spark, "abfss://container@acct.dfs.example/tblA")
        assert isinstance(log.store, HdfsLogStore)
        txn = log.start_transaction()
        txn.update_metadata(_metadata())
        assert txn.commit([Protocol(), _add("part=a/f0.parquet", "a")],
                          "WRITE") == 0
        stale = log.start_transaction()
        winner = log.start_transaction()
        winner.commit([_add("part=b/f1.parquet", "b")], "WRITE")
        assert stale.commit([_add("part=c/f2.parquet", "c")],
                            "WRITE") == 2
        # unbound azure scheme still raises with a registration hint
        with pytest.raises(NotImplementedError):
            default_log_store("wasbs://c@a.blob.example/t")
    finally:
        register_rename_client_factory("abfss", None)


def test_hdfs_store_thread_race_loses_no_commit(spark, hdfs_root):
    """8 threads race blind appends through exclusive rename: every
    commit lands at a distinct version, none lost."""
    log = DeltaLog.for_table(spark, "hdfs://nn1/proto/tbl2")
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
    # no temp litter left behind by the retry losers
    assert not [n for n in log.store._client.list_dir(log.log_path)
                if n.startswith(".tmp_")]


def test_state_survives_checkpoint_on_hdfs_store(spark, hdfs_root):
    assert_state_survives_checkpoint(spark, "hdfs://nn1/proto/ckpt")
