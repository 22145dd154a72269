"""Version checksum (.crc) integrity records (log/checksum.py): the
third log file type the reference's FileNames recognizes
(FileNames.scala:78-81). Written incrementally post-commit at zero
Spark-job cost; verified on demand; advisory (never fails a commit)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from connectors_spark import DeltaTable
from connectors_spark.errors import DeltaError
from connectors_spark.expressions import Col, Lit
from connectors_spark.log import checksum as cks
from connectors_spark.table import TableMaintenance


def _crc(t, v):
    return cks.read_checksum(t.log.store, t.log.log_path, v)


def _live(t):
    snap = t.snapshot()
    files = snap.all_files()
    return len(files), sum(f.size for f in files)


def test_checksum_chain_tracks_every_commit(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "crc"))
    t.write(spark.createDataFrame([Row(k=i, v=i * 10) for i in range(50)])
            .repartition(4))
    t.write(spark.createDataFrame([Row(k=100, v=1)]), mode="append")
    t.delete(Col("k") < Lit(10))
    TableMaintenance(t).optimize(min_files_per_group=2)
    head = t.snapshot().version
    assert head >= 3
    for v in range(head + 1):
        crc = _crc(t, v)
        assert crc is not None, f"missing .crc at v{v}"
    n, size = _live(t)
    crc = _crc(t, head)
    assert (crc.numFiles, crc.tableSizeBytes) == (n, size)
    out = TableMaintenance(t).verify_checksum()
    assert out["checksum_present"] and out["numFiles"] == n


def test_checksum_chain_through_dv_delete(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "crcdv"))
    t.write(spark.createDataFrame([Row(k=i) for i in range(100)])
            .repartition(3))
    t.delete(Col("k") == Lit(5), deletion_vectors=True)
    crc = _crc(t, t.snapshot().version)
    n, size = _live(t)
    assert (crc.numFiles, crc.tableSizeBytes) == (n, size)
    TableMaintenance(t).verify_checksum()


def test_checksum_self_heals_and_explicit_bootstrap(spark, tmp_path):
    """A missing predecessor record SELF-HEALS: the next commit walks
    back to the nearest anchor (here v0) and folds the gap forward —
    the crc reappears exact. When the walk is bounded out
    (reconstruct cap 0 simulates a gap past the cap/cleaned logs),
    the chain stays broken without any silent aggregate job, and
    compute_checksum() is the explicit bootstrap."""
    t = DeltaTable.for_path(spark, str(tmp_path / "crcboot"))
    t.write(spark.createDataFrame([Row(k=1)]))
    t.write(spark.createDataFrame([Row(k=2)]), mode="append")
    # sever the chain: drop every existing record
    for v in range(t.snapshot().version + 1):
        t.log.store.delete(cks.checksum_file(t.log.log_path, v))
    t.write(spark.createDataFrame([Row(k=3)]), mode="append")
    crc = _crc(t, t.snapshot().version)            # self-healed
    n, size = _live(t)
    assert crc is not None and (crc.numFiles, crc.tableSizeBytes) == (n, size)
    # unreachable anchor (walk cap 0): the chain stays broken
    for v in range(t.snapshot().version + 1):
        try:
            t.log.store.delete(cks.checksum_file(t.log.log_path, v))
        except FileNotFoundError:
            pass
    old = cks._RECONSTRUCT_MAX_WALK
    cks._RECONSTRUCT_MAX_WALK = 0
    try:
        t.write(spark.createDataFrame([Row(k=4)]), mode="append")
        assert _crc(t, t.snapshot().version) is None
    finally:
        cks._RECONSTRUCT_MAX_WALK = old
    out = TableMaintenance(t).compute_checksum()    # explicit bootstrap
    assert out["numFiles"] == len(t.snapshot().all_files())
    t.write(spark.createDataFrame([Row(k=5)]), mode="append")
    head = t.snapshot().version
    crc = _crc(t, head)
    n, size = _live(t)
    assert crc is not None and (crc.numFiles, crc.tableSizeBytes) == (n, size)
    assert TableMaintenance(t).verify_checksum()["checksum_present"]


def test_checksum_detects_corruption(spark, tmp_path):
    t = DeltaTable.for_path(spark, str(tmp_path / "crcbad"))
    t.write(spark.createDataFrame([Row(k=i) for i in range(20)]))
    head = t.snapshot().version
    bad = cks.VersionChecksum(tableSizeBytes=1, numFiles=999)
    cks.write_checksum(t.log.store, t.log.log_path, head, bad)
    with pytest.raises(DeltaError, match="checksum mismatch"):
        TableMaintenance(t).verify_checksum()


def test_checksum_files_ignored_by_reads_and_cleaned_up(spark, tmp_path):
    """.crc files never confuse segment listing, and expired-log
    cleanup deletes them with their delta files."""
    import os
    import time as _time

    t = DeltaTable.for_path(spark, str(tmp_path / "crcclean"))
    t.write(spark.createDataFrame([Row(k=1)]),
            configuration={"delta.checkpointInterval": "4",
                           "delta.logRetentionDuration":
                           "interval 0 days"})
    for i in range(2, 6):
        t.write(spark.createDataFrame([Row(k=i)]), mode="append")
    _time.sleep(0.01)
    # one more write crosses the checkpoint interval → cleanup runs
    t.write(spark.createDataFrame([Row(k=99)]), mode="append")
    names = list(t.log.store.list_from(t.log.log_path))
    crc_versions = sorted(cks.checksum_version(n) for n in names
                          if cks.is_checksum_file(n))
    delta_versions = sorted(
        int(os.path.basename(n)[:-5]) for n in names
        if n.endswith(".json") and os.path.basename(n)[:-5].isdigit())
    # every surviving crc has a surviving delta; expired ones are gone
    assert set(crc_versions) <= set(delta_versions)
    assert 0 not in crc_versions
    # reads still exact
    assert sorted(r.k for r in t.to_df().collect()) == [1, 2, 3, 4, 5, 99]


def test_checksum_chain_survives_concurrent_commit_race(spark, tmp_path):
    """Two racing appenders: the loser retries at the next version and
    extends the chain from the WINNER's record — every version ends
    with an exact .crc."""
    import threading

    t = DeltaTable.for_path(spark, str(tmp_path / "crcrace"))
    t.write(spark.createDataFrame([Row(k=0)]))
    dfs = [spark.createDataFrame([Row(k=100 + i)]).localCheckpoint()
           for i in range(4)]
    errs = []

    def append(df):
        try:
            DeltaTable.for_path(spark, str(tmp_path / "crcrace")).write(
                df, mode="append")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=append, args=(d,)) for d in dfs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    head = t.snapshot().version
    assert head == 4
    for v in range(head + 1):
        assert _crc(t, v) is not None, f"missing .crc at v{v}"
    n, size = _live(t)
    crc = _crc(t, head)
    assert (crc.numFiles, crc.tableSizeBytes) == (n, size)
    TableMaintenance(t).verify_checksum()


def test_crc_json_is_delta_spark_field_set(spark, tmp_path):
    """ADVICE r10: the .crc record serializes delta-spark's
    VersionChecksum shape (Checksum.scala) — full `metadata` action plus
    numMetadata/numProtocol — not an engine-private metadataId, so a
    delta-spark reader with checksum verification parses it as-is.
    Legacy metadataId-only records are still accepted on read."""
    import json

    from pyspark.sql import Row

    from connectors_spark import DeltaTable
    from connectors_spark.log import checksum as cks

    t = DeltaTable.for_path(spark, str(tmp_path / "ckfmt"))
    t.write(spark.createDataFrame([Row(k=1), Row(k=2)]))
    snap = t.snapshot()
    raw = "".join(t.log.store.read(
        cks.checksum_file(t.log.log_path, snap.version)))
    d = json.loads(raw)
    assert set(d) >= {"tableSizeBytes", "numFiles", "numMetadata",
                      "numProtocol", "protocol", "metadata"}
    assert "metadataId" not in d
    assert d["numMetadata"] == 1 and d["numProtocol"] == 1
    assert d["metadata"]["id"] == snap.metadata.id
    assert d["metadata"]["schemaString"] == snap.metadata.schemaString
    assert d["protocol"]["minReaderVersion"] \
        == snap.protocol.minReaderVersion
    # round-trip + derived metadataId
    crc = cks.VersionChecksum.from_json(raw)
    assert crc.metadataId == snap.metadata.id
    assert crc.metadata.partitionColumns \
        == snap.metadata.partitionColumns
    # legacy record shape still parses (back-compat with older rounds)
    legacy = cks.VersionChecksum.from_json(json.dumps(
        {"tableSizeBytes": 10, "numFiles": 1, "metadataId": "abc"}))
    assert legacy.metadataId == "abc" and legacy.metadata is None
    # and the chain extended FROM a legacy record keeps the id pinned
    nxt = cks.incremental_checksum(legacy, [], False, None, None)
    assert nxt.metadataId == "abc"


def test_checksum_folds_domain_metadata_and_watermark(spark, tmp_path):
    # The .crc record carries the live domain-metadata state — which
    # pins rowIdHighWaterMark (it lives in the delta.rowTracking
    # domain), matching delta-spark's checksum field set.
    import json
    t = DeltaTable.for_path(spark, str(tmp_path / "crc"))
    t.write(spark.range(0, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration={"delta.enableRowTracking": "true"})
    t.write(spark.range(40, 70).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    head = t.snapshot().version
    crc = _crc(t, head)
    assert crc is not None and crc.domainMetadata is not None
    rec = {dm.domain: dm.configuration for dm in crc.domainMetadata}
    assert rec == dict(t.snapshot().domain_metadata)
    wm = json.loads(rec["delta.rowTracking"])["rowIdHighWaterMark"]
    assert wm == 69
    TableMaintenance(t).verify_checksum()
    # a tampered watermark surfaces loudly
    bad = cks.VersionChecksum(
        tableSizeBytes=crc.tableSizeBytes, numFiles=crc.numFiles,
        protocol=crc.protocol, metadata=crc.metadata,
        domainMetadata=[type(crc.domainMetadata[0])(
            "delta.rowTracking", '{"rowIdHighWaterMark":1}')])
    cks.write_checksum(t.log.store, t.log.log_path, head, bad)
    with pytest.raises(DeltaError, match="domainMetadata"):
        TableMaintenance(t).verify_checksum()


def test_checksum_domain_roundtrip_json(tmp_path):
    from connectors_spark.log.actions import DomainMetadata
    crc = cks.VersionChecksum(
        tableSizeBytes=10, numFiles=1,
        domainMetadata=[DomainMetadata("b", '{"x":1}'),
                        DomainMetadata("a", "")])
    rt = cks.VersionChecksum.from_json(crc.to_json())
    assert [d.domain for d in rt.domainMetadata] == ["a", "b"]
    # legacy records without the field read back as unknown
    legacy = cks.VersionChecksum.from_json(
        '{"tableSizeBytes":5,"numFiles":1}')
    assert legacy.domainMetadata is None


def test_checksum_rebuilt_from_genesis_tracks_domains(spark, tmp_path):
    """ADVICE r12 (low): a chain rebuilt from the EMPTY table must
    anchor with domainMetadata=[] (known-empty), not None (unknown) —
    otherwise verify silently skips the domain check forever."""
    t = DeltaTable.for_path(spark, str(tmp_path / "crcgen"))
    t.write(spark.range(0, 30).select(
        F.col("id"), (F.col("id") * 2).alias("v")),
        configuration={"delta.enableRowTracking": "true"})
    # sever the chain completely, then let the next commit self-heal
    # by walking back to version 0
    for v in range(t.snapshot().version + 1):
        try:
            t.log.store.delete(cks.checksum_file(t.log.log_path, v))
        except FileNotFoundError:
            pass
    t.write(spark.range(30, 40).select(
        F.col("id"), (F.col("id") * 2).alias("v")), mode="append")
    head = t.snapshot().version
    crc = _crc(t, head)
    assert crc is not None
    assert crc.domainMetadata is not None     # known, not skipped
    rec = {dm.domain: dm.configuration for dm in crc.domainMetadata}
    assert rec == dict(t.snapshot().domain_metadata)
    out = TableMaintenance(t).verify_checksum()
    assert out["checksum_present"]


@pytest.mark.pin
def test_checksum_exact_through_readds_of_live_files(spark, tmp_path):
    """Two commits re-add files that stay live: the row-tracking
    enablement backfill, and a RESTORE to a version where a file had
    another deletion vector (it removes the current entry and adds the
    target's). Each re-added file counts once in the ``.crc``."""
    t = DeltaTable.for_path(spark, str(tmp_path / "readd"))
    t.write(spark.range(0, 100, 1, 2))
    t.set_properties({"delta.enableRowTracking": "true"})
    assert (_crc(t, 1).numFiles, _crc(t, 1).tableSizeBytes) == _live(t)
    t.delete(Col("id") < Lit(3), deletion_vectors=True)
    res = TableMaintenance(t).restore(version=1)
    assert res["filesAdded"] == res["filesRemoved"] == 1
    assert TableMaintenance(t).verify_checksum()["numFiles"] == 2
    assert t.to_df().count() == 100
