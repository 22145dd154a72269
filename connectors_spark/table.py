"""DeltaLog + DeltaTable: the engine's user-facing API.

Read lifecycle (SURVEY §3.1): ``DeltaTable.for_path(spark, path)`` →
driver-side LogSegment listing → snapshot (the driver fold of
checkpoint plus commits, ``log/snapshot.py``) → ``scan(pred)`` →
``to_df()`` → Catalyst/Tungsten.

Write lifecycle (§3.2): ``write()``/``delete()``/``update()``/``merge()``
stage Parquet distributed, then commit through the optimistic transaction
protocol. Maintenance commands live in ``maintenance.py``;
``TableMaintenance`` is re-exported here.

Reference entry points re-expressed: DeltaLog.forTable
(``DeltaLog.java:163-177``, ``DeltaLogImpl.scala:256-264``), update
(``SnapshotManagement.update:45-99``), time travel
(``SnapshotManagement.scala:51-59``), getChanges
(``DeltaLogImpl.scala:106-130``), startTransaction
(``DeltaLogImpl.scala:174-177``).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import time
import threading
import uuid
from typing import Any, Callable, Dict, Iterator, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import TableConfig
from .errors import DeltaError
from .expressions import Expression, bind
from .log import filenames as fn
from .bloom import bloom_config
from .log.actions import (AddFile, CommitInfo, DomainMetadata, Metadata,
                          Protocol, RemoveFile, SetTransaction, as_parsed)
from .log.logstore import LogStore, default_log_store, strip_scheme
from .log.segment import get_log_segment
from .log.snapshot import (Snapshot, addfiles_from_rows, canonical_path,
                            materialized_rt_cols, read_commit, relativize)
from .localrel import fan_out, local_rows_df
from .maintenance import TableMaintenance
from .log import history as hist
from .scan import DeltaScan
from .txn import OptimisticTransaction
from .writer import (CHANGE_TYPE_COL, stage_and_collect,
                     stage_cdc_and_collect)

_log_cache: Dict[str, "DeltaLog"] = {}
_log_cache_lock = threading.Lock()

# Materialization budget for DML intermediate relations: localCheckpoint
# of a relation several legs read (UPDATE's hit rows, MERGE's matched
# pairs) stores O(rows) on executor local disk — a whole-table MERGE at
# 100 TB would checkpoint roughly the table. Above this row bound the
# DML keeps the LAZY plan instead (each consumer re-derives it: more
# scans, no materialized state). Row-denominated because the bound
# comes from file stats numRecords and source counts. Env-overridable
# for deployments.
_DML_MATERIALIZE_MAX_ROWS = int(os.environ.get(
    "CONNECTORS_SPARK_DML_MATERIALIZE_MAX_ROWS", 10_000_000))


def _materialize(df: DataFrame, rows: Optional[int]) -> DataFrame:
    """``df`` checkpointed once for its several consumers when ``rows``
    (an upper bound on its size; None = unknown) fits
    ``_DML_MATERIALIZE_MAX_ROWS``; otherwise the lazy plan."""
    if rows is not None and rows <= _DML_MATERIALIZE_MAX_ROWS:
        return df.localCheckpoint(eager=True)
    return df


def _stats_numrecords_bound(files) -> Optional[int]:
    """Driver-side upper row bound for a set of files from their stats
    JSON (numRecords); None when any file lacks stats — unknown must
    read as UNBOUNDED, never zero, or the guard would happily
    materialize a whole stats-less table. Accepts inventory rows or
    AddFile actions (both expose ``.stats``)."""
    total = 0
    for f in files:
        st = f.stats if hasattr(f, "stats") else f["stats"]
        if not st:
            return None
        try:
            n = json.loads(st).get("numRecords")
        except ValueError:
            return None
        if n is None:
            return None
        total += int(n)
    return total


def _small_files(rows, target_size: int) -> List:
    """The inventory rows below ``target_size`` bytes: the files
    OPTIMIZE bin-packs and auto-compaction counts."""
    return [r for r in rows
            if r["size"] is not None and r["size"] < target_size]


def _scan_rows(snap: Snapshot, files, **kw) -> DataFrame:
    """Rows of ``files`` (the inventory's AddFiles a DML rewrites), with
    ``_row_id``/``_row_commit_version`` under row tracking."""
    return snap.to_df(files=files, with_row_ids=TableConfig(
        snap.metadata.configuration).enable_row_tracking, **kw)


def _as_col(v) -> F.Column:
    """A DML SET value: SQL strings parse, Columns pass through
    (str(Column) is not valid SQL)."""
    return F.expr(v) if isinstance(v, str) else v


def _canonical_table_path(table_path: str) -> str:
    """file:/local → absolute POSIX path; any other scheme stays a URI
    (its registered LogStore owns path semantics)."""
    if "://" in table_path and not table_path.startswith("file:"):
        return table_path.rstrip("/")
    return strip_scheme(os.path.abspath(strip_scheme(table_path))).rstrip("/")


class DeltaLog:
    """One per table path per process (module-level cache, ≍ the reference's
    Guava caches: DeltaHelper.scala:117-136)."""

    def __init__(self, spark: SparkSession, table_path: str):
        self.spark = spark
        # file:/local paths normalize to absolute POSIX form; other
        # schemes (memory://, s3://...) keep their URI verbatim — their
        # LogStore owns path semantics.
        self.table_path = _canonical_table_path(table_path)
        self.log_path = os.path.join(self.table_path, "_delta_log")
        self.store: LogStore = default_log_store(self.table_path)
        self._snapshot: Optional[Snapshot] = None
        self._lock = threading.RLock()  # deltaLogLock (DeltaLogImpl.scala:190)

    # ----------------------------------------------------------- factory

    @classmethod
    def for_table(cls, spark: SparkSession, table_path: str) -> "DeltaLog":
        key = _canonical_table_path(table_path)
        with _log_cache_lock:
            log = _log_cache.get(key)
            if log is None or log.spark is not spark:
                log = cls(spark, table_path)
                _log_cache[key] = log
            return log

    # ------------------------------------------------------------- state

    def table_exists(self) -> bool:
        try:
            get_log_segment(self.store, self.log_path)
            return True
        except (FileNotFoundError, ValueError):
            return False

    def update(self, committed: Optional[Tuple[int, List[Any]]] = None
               ) -> Optional[Snapshot]:
        """Recompute the latest snapshot; no-op when the segment is unchanged
        (SnapshotManagement.update:65-99). ``committed`` is the
        (version, actions) of the commit this process just wrote: when
        it is the one commit between the cached Snapshot and the listed
        segment, the seed folds it instead of reading it back."""
        with self._lock:
            try:
                seg = get_log_segment(self.store, self.log_path)
            except FileNotFoundError:
                self._snapshot = None
                return None
            cur = self._snapshot
            if cur is not None and cur.segment == seg:
                return cur
            new = Snapshot(self.spark, self.table_path, seg, self.store)
            # Incremental state update: the new Snapshot starts from the
            # driver state the previous one holds, advanced over the
            # commits between them (Snapshot.seed_from). Any surprise (a
            # cleaned-up delta file, a parse error, an unreadable
            # protocol) leaves the new Snapshot cold.
            if (cur is not None and seg.version >= cur.segment.version
                    and any(k in cur.__dict__ for k in Snapshot.SEEDED)):
                try:
                    if (committed is not None and committed[0]
                            == seg.version == cur.segment.version + 1):
                        tail = [(committed[0],
                                 [as_parsed(a) for a in committed[1]])]
                    else:
                        tail = [(v, read_commit(
                                    self.store,
                                    fn.delta_file(self.log_path, v)))
                                for v in range(cur.segment.version + 1,
                                               seg.version + 1)]
                    new.seed_from(cur, tail)
                except Exception:  # noqa: BLE001 — seed is best-effort
                    for k in Snapshot.SEEDED:
                        new.__dict__.pop(k, None)
            self._snapshot = new
            return self._snapshot

    def snapshot(self) -> Snapshot:
        s = self.update()
        if s is None:
            raise FileNotFoundError(f"{self.table_path} is not a Delta table")
        return s

    # -------------------------------------------------------- time travel

    def snapshot_for_version(self, version: int) -> Snapshot:
        """T1 (SnapshotManagement.scala:51-54): exact version, bounded by
        [earliest reproducible, latest]."""
        seg = get_log_segment(self.store, self.log_path, version_to_load=version)
        return Snapshot(self.spark, self.table_path, seg, self.store)

    def snapshot_for_timestamp(self, ts_ms: int) -> Snapshot:
        """T2 (SnapshotManagement.scala:56-59): latest commit whose
        monotonized timestamp <= ts."""
        commits = hist.list_commits(self.store, self.log_path)
        c = hist.active_commit_at_time(commits, ts_ms)
        return self.snapshot_for_version(c.version)

    def version_before_or_at_timestamp(self, ts_ms: int) -> int:
        """T3 (DeltaLogImpl.scala:132-146)."""
        commits = hist.list_commits(self.store, self.log_path)
        c = hist.active_commit_at_time(commits, ts_ms, can_return_last=True)
        return c.version

    def version_at_or_after_timestamp(self, ts_ms: int) -> int:
        """T3 (DeltaLogImpl.scala:148-172)."""
        commits = hist.list_commits(self.store, self.log_path)
        c = hist.active_commit_at_time(commits, ts_ms, can_return_last=True,
                                       can_return_earliest=True)
        if c.timestamp >= ts_ms:
            return c.version
        if c.version + 1 <= commits[-1].version:
            return c.version + 1
        raise ValueError(f"no version at or after timestamp {ts_ms}")

    # ----------------------------------------------------------- history

    def history(self) -> List[Dict[str, Any]]:
        commits = hist.list_commits(self.store, self.log_path)
        out = []
        for c in reversed(commits):
            info = hist.commit_info_at(self.store, self.log_path, c.version)
            out.append({"version": c.version, "timestamp": c.timestamp,
                        "operation": info.operation,
                        "operationParameters": info.operationParameters,
                        "operationMetrics": info.operationMetrics,
                        "isBlindAppend": info.isBlindAppend,
                        "isolationLevel": info.isolationLevel,
                        "readVersion": info.readVersion,
                        "userId": info.userId,
                        "userName": info.userName,
                        "userMetadata": info.userMetadata,
                        "engineInfo": info.engineInfo,
                        "inCommitTimestamp": info.inCommitTimestamp})
        return out

    def commit_info_at(self, version: int) -> CommitInfo:
        return hist.commit_info_at(self.store, self.log_path, version)

    # ----------------------------------------------------------- changes

    def get_changes(self, start_version: int = 0,
                    fail_on_data_loss: bool = False
                    ) -> Iterator[Tuple[int, List[Any]]]:
        """ST1/T5 (DeltaLogImpl.getChanges, DeltaLogImpl.scala:106-130):
        iterator of (version, actions) with gap detection."""
        names = [n for n in self.store.list_from(
            self.log_path, "%020d" % start_version) if fn.is_delta_file(n)]
        versions = sorted(fn.delta_version(n) for n in names)
        if fail_on_data_loss and versions and versions[0] != start_version:
            raise DeltaError(
                f"versions [{start_version}, {versions[0]}) were cleaned up "
                f"(failOnDataLoss)")
        last = None
        for v in versions:
            if fail_on_data_loss and last is not None and v != last + 1:
                raise DeltaError(f"version gap between {last} and {v}")
            last = v
            yield v, read_commit(self.store, fn.delta_file(self.log_path, v))

    # ------------------------------------------------------ transactions

    def start_transaction(self) -> OptimisticTransaction:
        return OptimisticTransaction(self)

    def post_commit(self, version: int,
                    actions: Optional[List[Any]] = None) -> None:
        """W7/W8 (OptimisticTransactionImpl.postCommit:393-405): checkpoint
        every ``checkpointInterval`` commits, then expired-log cleanup.
        ``actions`` are the ones the commit wrote at ``version``; the
        snapshot update folds them (``update``)."""
        snap = self.update(None if actions is None else (version, actions))
        if snap is None:
            return
        cfg = TableConfig(snap.metadata.configuration)
        if version % cfg.checkpoint_interval == 0 and version > 0:
            from .log.checkpoints import write_checkpoint
            ckpt_snap = snap if snap.version == version \
                else self.snapshot_for_version(version)
            write_checkpoint(ckpt_snap)
            if cfg.enable_expired_log_cleanup:
                self._cleanup_expired_logs(version, cfg)
        elif cfg.auto_compact_log and version > 0:
            # Opt-in minor-log auto-compaction (the checkpoint branch
            # above resets the tail, so the two never fire together):
            # when the RAW delta tail past the last compacted range (or
            # checkpoint) reaches minCommits, net-fold exactly that
            # fixed-width window — adjacent ranges keep the steady-state
            # commit cost O(N) every N commits (amortized O(1)), and
            # replay reads checkpoint + a few compacted files + <N raw
            # deltas. Best-effort: same no-op-on-race contract as
            # compact_log; a failure never fails the commit.
            try:
                self._maybe_auto_compact_log(snap, cfg)
            except Exception:  # noqa: BLE001 — advisory maintenance
                pass

    def _maybe_auto_compact_log(self, snap, cfg: TableConfig) -> None:
        from .log import filenames as fn
        seg = snap.segment
        raw_start = None
        n_raw = 0
        for p in seg.deltas:
            name = os.path.basename(p)
            if fn.is_compacted_file(name):
                raw_start, n_raw = None, 0
            else:
                v = fn.delta_version(name)
                if raw_start is None:
                    raw_start = v
                n_raw += 1
        if raw_start is not None \
                and n_raw >= cfg.auto_compact_log_min_commits:
            _compact_log_range(self, self.table_path, raw_start,
                               seg.version)

    def _cleanup_expired_logs(self, checkpoint_version: int,
                              cfg: TableConfig) -> None:
        """W8 (MetadataCleanup.scala:50-97, simplified): delete delta files
        older than logRetention that precede the new checkpoint. Expiry uses
        monotonized timestamps so a lagging mtime can't orphan a younger
        commit (BufferingLogDeletionIterator.scala:30-60)."""
        cutoff = int(time.time() * 1000) - cfg.log_retention_ms
        commits = hist.list_commits(self.store, self.log_path)
        expired = set()
        for c in commits:
            if c.version >= checkpoint_version or c.timestamp >= cutoff:
                break
            expired.add(c.version)
            self.store.delete(fn.delta_file(self.log_path, c.version))
            # the version's advisory checksum record expires with it
            from .log import checksum as cks
            try:
                self.store.delete(
                    cks.checksum_file(self.log_path, c.version))
            except FileNotFoundError:
                pass
        if not expired:
            return
        # Superseded checkpoint files for expired versions go too
        # (MetadataCleanup deletes delta AND checkpoint files before the
        # cutoff; the just-written checkpoint is never expired).
        for name in self.store.list_from(self.log_path):
            if fn.is_checkpoint_file(name) \
                    and fn.checkpoint_version(name) in expired:
                self.store.delete(os.path.join(self.log_path, name))
            elif fn.is_compacted_file(name):
                s, e = fn.compacted_range(name)
                # a compacted file is dead once its END expires (it can
                # only substitute in the post-checkpoint tail, and its
                # end is now below the checkpoint); checking the end
                # alone also converges when the range's versions expire
                # across DIFFERENT cleanup runs — requiring s too would
                # orphan the file forever once s's delta was deleted in
                # an earlier run
                if e in expired or (e < checkpoint_version and
                                    not self.store.exists(
                                        fn.delta_file(self.log_path, e))):
                    self.store.delete(os.path.join(self.log_path, name))
        # V2 sidecars are only reachable through a manifest: once every
        # manifest referencing one is gone, the sidecar is garbage.
        # Delete sidecar files older than the cutoff that no RETAINED
        # manifest references (never an age-only delete — a live
        # old checkpoint keeps its sidecars alive indefinitely).
        side_dir = os.path.join(self.log_path, fn.SIDECAR_DIR)
        side_names = [s for s in self.store.list_dir(side_dir)
                      if s.endswith(".parquet")]
        if side_names:
            from .log.snapshot import _read_checkpoint
            referenced = set()
            for name in self.store.list_from(self.log_path):
                if not fn.is_v2_checkpoint_file(name):
                    continue
                mpath = os.path.join(self.log_path, name)
                try:
                    referenced.update(
                        sc["path"] for sc in _read_checkpoint(
                            self.store, mpath, ("sidecar",))["sidecar"]
                        if sc.get("path"))
                except Exception:  # noqa: BLE001 — keep on parse issues
                    return  # unreadable manifest: keep every sidecar
            for s in side_names:
                p = os.path.join(side_dir, s)
                if s not in referenced \
                        and self.store.mtime_ms(p) < cutoff:
                    self.store.delete(p)


class DeltaTable:
    """High-level table handle: reads, time travel, writes, DML, changes."""

    def __init__(self, log: DeltaLog):
        self.log = log
        self.spark = log.spark

    # ----------------------------------------------------------- factory

    @classmethod
    def for_path(cls, spark: SparkSession, path: str) -> "DeltaTable":
        return cls(DeltaLog.for_table(spark, path))

    @property
    def path(self) -> str:
        return self.log.table_path

    # ------------------------------------------------------------- reads

    def snapshot(self) -> Snapshot:
        return self.log.snapshot()

    def to_df(self, version: Optional[int] = None,
              timestamp_ms: Optional[int] = None,
              with_row_ids: bool = False) -> DataFrame:
        """Table rows; ``with_row_ids=True`` (row-tracked tables only)
        appends ``_row_id`` / ``_row_commit_version`` — stable under
        appends and DV deletes; rewrites (OPTIMIZE) materialize them
        into the written files so they survive the rewrite too."""
        snap = self._resolve(version, timestamp_ms)
        if with_row_ids:
            from .config import TableConfig
            if not TableConfig(
                    snap.metadata.configuration).enable_row_tracking:
                raise DeltaError(
                    "row ids requested but delta.enableRowTracking is "
                    "not set on this table")
        return snap.to_df(with_row_ids=with_row_ids)

    def scan(self, predicate: Optional[Expression] = None,
             version: Optional[int] = None) -> DeltaScan:
        snap = self._resolve(version, None)
        return DeltaScan(snap, predicate)

    def _resolve(self, version: Optional[int],
                 timestamp_ms: Optional[int]) -> Snapshot:
        if version is not None and timestamp_ms is not None:
            raise DeltaError("versionAsOf and timestampAsOf are mutually exclusive")
        if version is not None:
            return self.log.snapshot_for_version(version)
        if timestamp_ms is not None:
            return self.log.snapshot_for_timestamp(timestamp_ms)
        return self.log.snapshot()

    def history(self) -> List[Dict[str, Any]]:
        return self.log.history()

    def metadata_aggregates(self, cols: Sequence[str] = (),
                            version: Optional[int] = None) -> DataFrame:
        """COUNT(*) (and MIN/MAX of ``cols``) answered from AddFile
        statistics alone — the metadata-only aggregate optimization
        (delta-spark's OptimizeMetadataOnlyDeltaQuery): the plan reads
        the log's stats JSON, never a data Parquet. Sound because the
        writer records EXACT per-file footer stats (writer.py:57-92,
        not truncated), MIN/MAX ignore per-file all-null columns the
        same way SQL MIN/MAX ignore null rows, and the fast path is
        refused — falling back to a real scan — when any active file
        lacks stats or carries a deletion vector (a DV removes rows
        from data but not from stats, so both the count and an
        extremal row could be stale).

        Returns one row: (n_rows, min_<c>, max_<c>...). At 100 TB this
        is a metadata-sized job over the file inventory; the validity
        probe is one tiny aggregate over the same relation."""
        from .dv import DV_TAG
        snap = self._resolve(version, None)
        files = snap.files_local_df
        nrec = F.get_json_object(F.col("stats"), "$.numRecords") \
            .cast("long")
        dtypes = {f.name: f.dataType
                  for f in snap.metadata.data_schema.fields}
        ptypes = {f.name: f.dataType
                  for f in snap.metadata.partition_schema.fields}
        # stats JSON / partitionValues keys are PHYSICAL names
        phys = snap.metadata.name_map()
        for c in cols:
            if c not in dtypes and c not in ptypes:
                raise DeltaError(f"no such column: {c}")
        invalid_cond = (nrec.isNull() |
                        F.col("tags").getItem(DV_TAG).isNotNull())
        for c in cols:
            if c in ptypes:
                continue
            # A file may legitimately lack a min/max entry for a column
            # only when the column is all-null in that file (nullCount
            # == numRecords) — then MIN/MAX skip it like SQL skips null
            # rows. Count-only stats (foreign writers) or omitted
            # min/max (binary/decimal, writer.py) would make the fast
            # path silently wrong, so they force the real scan.
            pc = phys.get(c, c)
            ncnt = F.get_json_object(F.col("stats"),
                                     f"$.nullCount.{pc}").cast("long")
            has = (F.get_json_object(
                       F.col("stats"), f"$.minValues.{pc}").isNotNull() &
                   F.get_json_object(
                       F.col("stats"), f"$.maxValues.{pc}").isNotNull())
            all_null = ncnt.isNotNull() & (ncnt == nrec)
            invalid_cond = invalid_cond | (~has & ~all_null)
        invalid = files.filter(invalid_cond).limit(1).count()
        if invalid:
            # Fall back to the real scan — still one aggregate, just
            # over data rows instead of file stats.
            df = snap.to_df()
            aggs = [F.count(F.lit(1)).alias("n_rows")]
            for c in cols:
                aggs += [F.min(c).alias(f"min_{c}"),
                         F.max(c).alias(f"max_{c}")]
            return df.agg(*aggs)
        aggs = [F.coalesce(F.sum(nrec), F.lit(0)).cast("long")
                .alias("n_rows")]
        for c in cols:
            pc = phys.get(c, c)
            if c in ptypes:
                # Partition columns live in partitionValues, not the
                # stats JSON — every row of a file shares the value, so
                # min == max == the decoded partition value.
                v = F.col("partitionValues")[pc].cast(ptypes[c])
                lo = hi = v
            else:
                lo = F.get_json_object(F.col("stats"),
                                       f"$.minValues.{pc}").cast(dtypes[c])
                hi = F.get_json_object(F.col("stats"),
                                       f"$.maxValues.{pc}").cast(dtypes[c])
            aggs += [F.min(lo).alias(f"min_{c}"),
                     F.max(hi).alias(f"max_{c}")]
        return files.agg(*aggs)

    def show_partitions(self,
                        version: Optional[int] = None) -> DataFrame:
        """SHOW PARTITIONS: the distinct partition tuples of the
        snapshot's ACTIVE files, decoded to the partition schema's
        types by the pruner's codec — answered from the Snapshot's
        file rows alone (no data Parquet opened, no Spark job until the
        result is read). Raises on an unpartitioned table, matching
        delta-spark."""
        from .partition_values import decode_row
        snap = self._resolve(version, None)
        pcols = snap.metadata.partitionColumns
        if not pcols:
            raise DeltaError("SHOW PARTITIONS on an unpartitioned table")
        ptypes = {f.name: f.dataType
                  for f in snap.metadata.partition_schema.fields}
        inv = snap._inventory
        # distinct after decoding: "1" and "01" are one int partition
        rows = list(dict.fromkeys(
            tuple(map(decode_row(pv, inv.fields).get, pcols))
            for pv in inv.tuples))
        return local_rows_df(self.spark, rows, T.StructType(
            [T.StructField(c, ptypes[c]) for c in pcols]))

    def describe_detail(self) -> Dict[str, Any]:
        """DESCRIBE DETAIL: one metadata-plane row about the table —
        format, id, createdAt, lastModified, partitionColumns,
        numFiles, sizeInBytes, properties, protocol versions (the
        delta-spark `DESCRIBE DETAIL` surface). numFiles/sizeInBytes
        come from one aggregate over the file inventory; no data
        Parquet is opened."""
        snap = self.snapshot()
        summary = snap.state_summary()
        hist = self.log.history()
        return {
            "format": "delta",
            "id": snap.metadata.id,
            "location": self.path,
            "createdAt": snap.metadata.createdTime,
            "lastModified": hist[0]["timestamp"] if hist else None,
            "partitionColumns": list(snap.metadata.partitionColumns),
            "numFiles": int(summary["numOfFiles"]),
            "sizeInBytes": int(summary["sizeInBytes"]),
            "properties": dict(snap.metadata.configuration or {}),
            "minReaderVersion": snap.protocol.minReaderVersion,
            "minWriterVersion": snap.protocol.minWriterVersion,
        }

    def set_properties(self, props: Dict[str, str]) -> int:
        """ALTER TABLE SET TBLPROPERTIES: merge ``props`` into the
        table configuration via a metadata-only commit (reference op
        name ``Operation.java`` SET TABLE PROPERTIES; config registry
        semantics DeltaConfig.scala:199-253). Enforcement picks up the
        new values immediately — e.g. ``delta.appendOnly=true`` blocks
        the next delete/update/overwrite."""
        import dataclasses

        from .errors import ConcurrentModificationException
        if "delta.columnMapping.mode" in props:
            raise DeltaError("use enable_column_mapping(); the mode "
                             "cannot be set directly")
        # Fresh-snapshot retry: a property commit re-derives everything
        # it writes (merged configuration, and — when flipping
        # delta.enableRowTracking — the enablement backfill's re-add
        # list) from the snapshot, so losing a race is resolved by
        # recomputing on the new head, never by replaying stale actions.
        last: Optional[Exception] = None
        for _ in range(10):
            txn = self.log.start_transaction()
            snap = txn.snapshot
            if snap is None:
                raise FileNotFoundError("table does not exist")
            conf = dict(snap.metadata.configuration or {})
            conf.update(props)
            txn.update_metadata(dataclasses.replace(
                snap.metadata, configuration=conf))
            try:
                return txn.commit([], "SET TBLPROPERTIES",
                                  {"properties": json.dumps(dict(props))})
            except ConcurrentModificationException as e:
                last = e
        raise last

    # ------------------------------------------- column mapping (name mode)

    _CM_ID = "delta.columnMapping.id"
    _CM_PHYS = "delta.columnMapping.physicalName"
    _CM_MODE = "delta.columnMapping.mode"
    _CM_MAXID = "delta.columnMapping.maxColumnId"

    def enable_column_mapping(self) -> int:
        """Upgrade the table to column mapping mode ``name``: every
        schema field gets a stable id and a physical name — for
        EXISTING columns the physical name equals the current logical
        name (the delta-spark upgrade rule), so every already-written
        file stays readable with zero rewrite. After this,
        rename_column / drop_column are metadata-only commits.

        Composes with the change data feed: CDC files are written in
        the physical name domain like data files, and the CDF reader
        aliases back to the CURRENT logical names (changes spanning a
        rename surface under the new name).

        Protocol-fidelity note: the Delta spec gates column mapping
        behind minReaderVersion>=2 / minWriterVersion>=5. By DEFAULT
        this engine keeps its tables at the reference's protocol
        (1, 2) because the reference reader IS the compatibility
        target (SURVEY W9). Setting the table property
        ``delta.protocol.autoUpgrade=true`` (log/features.py) makes
        every commit bump the Protocol action to the spec versions the
        table state requires — CM → (2,5), DVs → (3,7) table features,
        ICT → writer feature — so a FOREIGN legacy reader refuses the
        table loudly instead of surfacing physical column names or
        resurrecting DV-deleted rows."""
        import dataclasses
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        meta = snap.metadata
        if meta.column_mapping_mode == "name":
            return snap.version
        fields = []
        for i, f in enumerate(meta.schema.fields):
            md = dict(f.metadata or {})
            md[self._CM_ID] = i + 1
            md[self._CM_PHYS] = f.name
            fields.append(T.StructField(f.name, f.dataType,
                                        f.nullable, md))
        conf = dict(meta.configuration or {})
        conf[self._CM_MODE] = "name"
        conf[self._CM_MAXID] = str(len(fields))
        txn.update_metadata(dataclasses.replace(
            meta,
            schemaString=json.dumps(T.StructType(fields).jsonValue()),
            configuration=conf))
        return txn.commit([], "ALTER TABLE",
                          {"columnMapping": "name"})

    def _require_mapping(self, meta):
        if meta.column_mapping_mode != "name":
            raise DeltaError("requires column mapping: run "
                             "enable_column_mapping() first")

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN — metadata-only under column mapping: the
        field keeps its id and physical name, so no data file is
        touched and time travel still shows the old logical name at
        old versions."""
        import dataclasses
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        meta = snap.metadata
        self._require_mapping(meta)
        names = {f.name for f in meta.schema.fields}
        if old not in names:
            raise DeltaError(f"no such column: {old!r}")
        if new in names:
            raise DeltaError(f"column already exists: {new!r}")
        for key, expr in (meta.configuration or {}).items():
            if key.startswith("delta.constraints.") \
                    and _references(expr, old):
                raise DeltaError(
                    f"column {old!r} is referenced by constraint "
                    f"{key!r}; drop the constraint first")
        for f in meta.schema.fields:
            gen = (f.metadata or {}).get(_GEN_KEY)
            if gen and f.name != old and _references(gen, old):
                raise DeltaError(
                    f"column {old!r} is referenced by generated "
                    f"column {f.name!r} (GENERATED ALWAYS AS {gen})")
        fields = [T.StructField(new if f.name == old else f.name,
                                f.dataType, f.nullable, f.metadata)
                  for f in meta.schema.fields]
        conf = self._rename_in_config(meta.configuration, old, new)
        txn.update_metadata(dataclasses.replace(
            meta,
            schemaString=json.dumps(T.StructType(fields).jsonValue()),
            partitionColumns=[new if c == old else c
                              for c in meta.partitionColumns],
            configuration=conf))
        return txn.commit([], "RENAME COLUMN",
                          {"oldName": old, "newName": new})

    def drop_column(self, name: str) -> int:
        """DROP COLUMN — metadata-only under column mapping: the data
        stays in the files (time travel still reads it); current-
        version scans simply never project it. The id is never reused,
        so re-adding the same logical name later cannot resurrect old
        values."""
        import dataclasses
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        meta = snap.metadata
        self._require_mapping(meta)
        if name in meta.partitionColumns:
            raise DeltaError(f"cannot drop partition column {name!r}")
        names = {f.name for f in meta.schema.fields}
        if name not in names:
            raise DeltaError(f"no such column: {name!r}")
        if len(names) == 1:
            raise DeltaError("cannot drop the last column")
        for key, expr in (meta.configuration or {}).items():
            if key.startswith("delta.constraints.") \
                    and _references(expr, name):
                raise DeltaError(
                    f"column {name!r} is referenced by constraint "
                    f"{key!r}; drop the constraint first")
        for f in meta.schema.fields:
            gen = (f.metadata or {}).get(_GEN_KEY)
            if gen and f.name != name and _references(gen, name):
                raise DeltaError(
                    f"column {name!r} is referenced by generated "
                    f"column {f.name!r} (GENERATED ALWAYS AS {gen})")
        fields = [f for f in meta.schema.fields if f.name != name]
        conf = self._rename_in_config(meta.configuration, name, None)
        txn.update_metadata(dataclasses.replace(
            meta,
            schemaString=json.dumps(T.StructType(fields).jsonValue()),
            configuration=conf))
        return txn.commit([], "DROP COLUMNS", {"column": name})

    def add_column(self, name: str, dtype, nullable: bool = True) -> int:
        """ADD COLUMN under column mapping: a fresh id and physical
        name (``col-<id>``) that no existing file contains — existing
        rows read NULL, only future writes materialize it."""
        import dataclasses
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        meta = snap.metadata
        self._require_mapping(meta)
        if name in {f.name for f in meta.schema.fields}:
            raise DeltaError(f"column already exists: {name!r}")
        if isinstance(dtype, str):
            dtype = _parse_dtype(dtype)
        conf = dict(meta.configuration or {})
        next_id = int(conf.get(self._CM_MAXID, "0")) + 1
        conf[self._CM_MAXID] = str(next_id)
        # The upgrade rule keeps existing columns' physical names equal
        # to their logical names, so a pre-existing column literally
        # named "col-<n>" can collide with the generated name — two
        # fields with one physical name would corrupt every read. Fall
        # back to a UUID-based physical name (delta-spark's scheme) on
        # collision.
        phys = f"col-{next_id}"
        taken = {(f.metadata or {}).get(self._CM_PHYS)
                 for f in meta.schema.fields}
        if phys in taken:
            phys = f"col-{uuid.uuid4()}"
        md = {self._CM_ID: next_id, self._CM_PHYS: phys}
        fields = list(meta.schema.fields) + [
            T.StructField(name, dtype, nullable, md)]
        txn.update_metadata(dataclasses.replace(
            meta,
            schemaString=json.dumps(T.StructType(fields).jsonValue()),
            configuration=conf))
        return txn.commit([], "ADD COLUMNS", {"column": name})

    def alter_column_type(self, name: str, new_type) -> int:
        """ALTER COLUMN TYPE — type widening (Delta protocol 'Type
        Widening'): metadata-only promotion to a wider type (byte <
        short < int < long, float -> double, decimal precision growth
        at equal scale). No data file is touched — old files keep the
        narrow physical type and the parquet reader promotes at scan
        time; the change is recorded in the field's
        ``delta.typeChanges`` metadata so foreign readers know mixed
        physical types are expected. Requires
        ``delta.enableTypeWidening``."""
        import dataclasses

        from .txn import is_type_widening
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        meta = snap.metadata
        if not TableConfig(meta.configuration).enable_type_widening:
            raise DeltaError(
                "type widening requires delta.enableTypeWidening=true")
        field = next((f for f in meta.schema.fields if f.name == name),
                     None)
        if field is None:
            raise DeltaError(f"no such column: {name!r}")
        if isinstance(new_type, str):
            new_type = _parse_dtype(new_type)
        if not is_type_widening(field.dataType, new_type):
            raise DeltaError(
                f"cannot change {name!r} from "
                f"{field.dataType.simpleString()} to "
                f"{new_type.simpleString()}: only widening conversions "
                f"(byte<short<int<long, float->double, decimal "
                f"precision growth at equal scale) are supported")
        if name in (meta.partitionColumns or []):
            # partition values are log STRINGS decoded by schema type;
            # widening them is representationally fine but delta-spark
            # refuses, and stats/pruning parity matters more than the
            # convenience — refuse loudly.
            raise DeltaError(
                f"cannot widen partition column {name!r}")
        for f in meta.schema.fields:
            gen = (f.metadata or {}).get(_GEN_KEY)
            if gen and _references(gen, name):
                raise DeltaError(
                    f"column {name!r} is referenced by generated "
                    f"column {f.name!r}; widening could change the "
                    f"generated values")
        md = dict(field.metadata or {})
        changes = list(md.get("delta.typeChanges") or [])
        changes.append({"fromType": field.dataType.simpleString(),
                        "toType": new_type.simpleString()})
        md["delta.typeChanges"] = changes
        fields = [T.StructField(f.name, new_type if f.name == name
                                else f.dataType, f.nullable,
                                md if f.name == name else f.metadata)
                  for f in meta.schema.fields]
        txn.update_metadata(dataclasses.replace(
            meta,
            schemaString=json.dumps(T.StructType(fields).jsonValue())))
        return txn.commit([], "CHANGE COLUMN",
                          {"column": name,
                           "toType": new_type.simpleString()})

    @staticmethod
    def _rename_in_config(configuration, old: str, new: Optional[str]):
        """Track a logical rename/drop in config values that list
        logical column names (the bloom skipping column list)."""
        from .bloom import BLOOM_COLUMNS_KEY
        conf = dict(configuration or {})
        if BLOOM_COLUMNS_KEY in conf:
            cols = [c.strip() for c in
                    conf[BLOOM_COLUMNS_KEY].split(",") if c.strip()]
            cols = [new if c == old else c for c in cols]
            conf[BLOOM_COLUMNS_KEY] = ",".join(
                c for c in cols if c is not None)
        return conf

    # ------------------------------------------------------------ writes

    def _make_metadata(self, schema: T.StructType,
                       partition_by: Sequence[str],
                       configuration: Optional[Dict[str, str]] = None,
                       existing: Optional[Metadata] = None) -> Metadata:
        if existing is not None:
            # Write-time schema evolution must not strip field metadata:
            # an incoming frame's schema carries none, so a naive
            # schemaString=schema would silently drop
            # delta.generationExpression and delta.identity.* from
            # pre-existing columns — after one evolving append the
            # generated-column invariant would stop being enforced and
            # identity allocation would reset. Carry metadata over by
            # name from the pre-evolution schema.
            keep = {f.name: f.metadata for f in existing.schema.fields
                    if f.metadata}
            # nullability merges as OR: evolution may relax a column
            # to nullable but an INFERRED non-null batch schema must
            # never silently tighten the table's contract (tightening
            # is the explicit set_nullable ALTER)
            was_nullable = {f.name: f.nullable
                            for f in existing.schema.fields}
            schema = T.StructType([
                T.StructField(f.name, f.dataType,
                              f.nullable or was_nullable.get(f.name,
                                                             f.nullable),
                              keep.get(f.name, f.metadata))
                for f in schema.fields])
        return Metadata(
            id=existing.id if existing else str(uuid.uuid4()),
            schemaString=json.dumps(schema.jsonValue()),
            partitionColumns=list(partition_by),
            configuration=dict(configuration or
                               (existing.configuration if existing else {})),
            createdTime=existing.createdTime if existing
            else int(time.time() * 1000))

    def write(self, df: DataFrame, mode: str = "append",
              partition_by: Optional[Sequence[str]] = None,
              configuration: Optional[Dict[str, str]] = None,
              replace_where: Optional[Expression] = None,
              txn_app_id: Optional[str] = None,
              txn_version: Optional[int] = None,
              generated_columns: Optional[Dict[str, Tuple[str, str]]]
              = None,
              identity_columns: Optional[Dict[str, Tuple[str, int, int]]]
              = None,
              user_metadata: Optional[str] = None) -> int:
        """Append/overwrite ``df``. Creates the table on first write.

        ``replace_where`` (overwrite only): atomically replace EXACTLY
        the rows matching the predicate with ``df`` — the Delta
        replaceWhere contract. Every incoming row must satisfy the
        predicate (raises otherwise, matching Delta's constraint
        check); existing files are dropped whole when the predicate
        fully covers them (partition/stats-pruned, no data read) and
        rewritten keep-rows-only when it only partially covers them.
        One transaction: readers never see a state with the old rows
        gone and the new ones missing.

        ``txn_app_id``/``txn_version`` (set together): IDEMPOTENT
        write — the delta-spark txnAppId/txnVersion option pair over
        the reference's SetTransaction watermark (actions.scala:88-94,
        txnVersion OptimisticTransactionImpl.scala:221-224). The
        commit records SetTransaction(app_id, version); a write whose
        version is ≤ the table's recorded watermark for that app is
        SKIPPED (returns -1), so a retried job can never double-append.
        The conflict checker already fails concurrent commits touching
        the same appId, making the check-then-commit race-safe."""
        if mode not in ("append", "overwrite"):
            raise DeltaError(f"unsupported write mode {mode!r}")
        if replace_where is not None and mode != "overwrite":
            raise DeltaError("replace_where requires mode='overwrite'")
        if (txn_app_id is None) != (txn_version is None):
            raise DeltaError(
                "txn_app_id and txn_version must be set together")
        if replace_where is not None:
            if txn_app_id is not None:
                raise DeltaError(
                    "idempotent writes are not supported with "
                    "replace_where")
            return self._replace_where(df, replace_where, configuration)
        txn = self.log.start_transaction()
        exists = txn.snapshot is not None and txn.read_version >= 0
        if exists and (generated_columns is not None
                       or identity_columns is not None):
            # GENERATED ALWAYS AS [IDENTITY] is a create-time property
            # (delta-spark: DeltaTable.create builder only)
            raise DeltaError("generated_columns/identity_columns "
                             "can only be set when the table is "
                             "created")
        actions: List[Any] = []
        if txn_app_id is not None:
            if exists and txn.txn_version(txn_app_id) >= txn_version:
                return -1
            actions.append(SetTransaction(
                appId=txn_app_id, version=int(txn_version),
                lastUpdated=int(time.time() * 1000)))
        pcols = txn.snapshot.metadata.partitionColumns if exists \
            else list(partition_by or [])
        return self._append(
            txn, df, "WRITE" if exists else "CREATE TABLE AS SELECT",
            {"mode": mode, "partitionBy": json.dumps(pcols)},
            overwrite=mode == "overwrite", partition_by=partition_by,
            configuration=configuration, actions=actions,
            generated_columns=generated_columns,
            identity_columns=identity_columns, user_metadata=user_metadata)

    def _append(self, txn, df: DataFrame, operation: str,
                params: Dict[str, str], *, overwrite: bool = False,
                partition_by: Optional[Sequence[str]] = None,
                configuration: Optional[Dict[str, str]] = None,
                merge_schema: bool = True,
                generated_columns: Optional[Dict[str, Tuple[str, str]]]
                = None,
                identity_columns: Optional[Dict[str, Tuple[str, int, int]]]
                = None,
                actions: Sequence[Any] = (),
                user_metadata: Optional[str] = None) -> int:
        """The append entry ``write`` and the streaming sink share: it
        decides the table's metadata, then commits ``df`` as the
        inserted leg of :meth:`_commit_legs` (with ``overwrite``,
        replacing every live file), then runs auto-compaction.

        - Creation: a first write makes the metadata from ``df``, plus
          the create-time ``generated_columns``/``identity_columns`` as
          field metadata; the core's conformance then fills them.
        - Partitioning: an existing table keeps its partition columns;
          a ``partition_by`` that differs raises.
        - Evolution: a generated or identity column ``df`` lacks counts
          as present, since the core fills it. A nested field set that
          differs from the table's raises. Any other field-set
          difference evolves the schema, unless ``merge_schema`` is off
          (ValueError) or the table is column-mapped."""
        meta = txn.snapshot.metadata \
            if txn.snapshot is not None and txn.read_version >= 0 else None
        if meta is None:
            fields = {f.name: f for f in df.schema.fields}
            for name, (ddl, expr) in (generated_columns or {}).items():
                fields[name] = T.StructField(name, _parse_dtype(ddl), True,
                                             {_GEN_KEY: expr})
            for name, (ddl, start, step) in (identity_columns or {}).items():
                if step == 0:
                    raise DeltaError("identity step must be nonzero")
                fields[name] = T.StructField(
                    name, _parse_dtype(ddl), True,
                    {_ID_START: start, _ID_STEP: step})
            txn.update_metadata(self._make_metadata(
                T.StructType(list(fields.values())), partition_by or [],
                configuration))
        else:
            if partition_by is not None \
                    and list(partition_by) != meta.partitionColumns:
                raise DeltaError(
                    f"partition columns {list(partition_by)} do not match "
                    f"the table's {meta.partitionColumns}")
            table = {f.name: f for f in meta.schema.fields}
            for f in df.schema.fields:
                if f.name in table and _nested_fields(f.dataType) \
                        != _nested_fields(table[f.name].dataType):
                    raise DeltaError(
                        f"schema mismatch: column {f.name!r} is "
                        f"{f.dataType.simpleString()} in the data but "
                        f"{table[f.name].dataType.simpleString()} in the "
                        f"table")
            fill = _filled_cols(meta)
            if set(df.columns) | fill != set(table):
                if not merge_schema:
                    raise ValueError(
                        f"incoming schema {sorted(df.columns)} != table "
                        f"schema {sorted(table)} (set merge_schema=True)")
                if meta.column_mapping_mode != "none":
                    raise DeltaError(
                        "write-time schema evolution is not supported "
                        "under column mapping — use add_column / "
                        "rename_column / drop_column")
                schema = T.StructType(df.schema.fields + [
                    f for name, f in table.items()
                    if name in fill and name not in df.columns])
                txn.update_metadata(self._make_metadata(
                    schema, meta.partitionColumns, configuration, meta))
        conf = (txn.new_metadata or meta).configuration
        version = self._commit_legs(
            txn, operation, params,
            _whole_table(txn) if overwrite and meta is not None else [],
            inserted=df, actions=actions, user_metadata=user_metadata,
            metrics=lambda adds: {
                "numFiles": str(len(adds)),
                "numOutputRows": str(sum(json.loads(a.stats)["numRecords"]
                                         for a in adds if a.stats))})
        self._maybe_auto_compact(conf)
        return version

    def _maybe_auto_compact(self,
                            configuration: Optional[Dict[str, str]]
                            ) -> None:
        """Post-commit small-file compaction when the
        ``delta.autoOptimize.autoCompact`` table property is on: if at
        least ``connectors.autoCompact.minNumFiles`` active files are
        below the target size, bin-pack them in a follow-up OPTIMIZE
        commit (dataChange=False — change feeds skip it). Keeps
        many-small-append workloads from accreting a file-per-commit
        layout without a scheduled OPTIMIZE job; the probe counts the
        Snapshot's inventory rows on the driver (``_small_files``), no
        Spark job and no data read.

        Best-effort by contract (delta-spark parity): the data commit
        is already durable when this runs, so ANY failure here — e.g.
        a ConcurrentDeleteReadException from two auto-compacting
        writers racing — is logged and swallowed. Propagating it would
        make the caller believe the WRITE failed, and a retry of a
        non-idempotent write would double-append."""
        conf = TableConfig(configuration or {})
        if not conf.auto_compact:
            return
        try:
            target = conf.auto_compact_target_size
            n_small = len(_small_files(self.snapshot()._files_rows, target))
            if n_small >= conf.auto_compact_min_files:
                TableMaintenance(self).optimize(
                    target_file_size=target,
                    min_files_per_group=2)
        except Exception as exc:  # noqa: BLE001 — post-commit hook
            import logging
            logging.getLogger(__name__).warning(
                "auto-compact after committed write failed (write "
                "itself succeeded): %s", exc)

    # --------------------------------------------------------------- DML

    def _replace_where(self, df: DataFrame, predicate: Expression,
                       configuration: Optional[Dict[str, str]]) -> int:
        """replaceWhere body: validate-in, predicate-scoped remove (or
        keep-rows rewrite for partially-covered files), staged adds —
        one commit."""
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError(
                "replace_where requires an existing table")
        meta = snap.metadata
        # replaceWhere never evolves the schema: a frame whose field
        # set/types differ from table metadata would commit Parquet
        # files silently diverging from the table schema. Generated and
        # identity columns may be absent: the commit fills them.
        gens = _generated_exprs(meta)
        fill = _filled_cols(meta)
        got = {f.name: f.dataType for f in df.schema.fields}
        want = {f.name: f.dataType for f in meta.schema.fields
                if f.name in got or f.name not in fill}
        if want != got:
            raise DeltaError(
                "replaceWhere: incoming schema does not match table "
                f"schema (table {sorted(want)}, data {sorted(got)})")

        def incoming(c: str) -> F.Column:
            # an absent generated column reads as its expression
            if c in gens and c not in got:
                return F.expr(gens[c][1]).cast(gens[c][0])
            return F.col(c)

        if df.where(~F.coalesce(predicate.to_column(incoming),
                                F.lit(False))).limit(1).count():
            raise DeltaError(
                "replaceWhere: incoming data contains rows that do not "
                f"match the predicate {predicate}")
        candidates = txn.mark_files_as_read(predicate)
        params = {"mode": "overwrite", "predicate": str(predicate)}
        if DeltaScan(snap, predicate).residual is None:
            # predicate fully file-resolvable: drop candidates whole
            return self._commit_legs(txn, "WRITE", params, candidates,
                                     inserted=df)
        old = _scan_rows(snap, candidates)
        hit = F.coalesce(predicate.to_column(F.col), F.lit(False))
        return self._commit_legs(txn, "WRITE", params, candidates,
                                 kept=old.where(~hit),
                                 deleted=old.where(hit), inserted=df)

    def _commit_legs(self, txn, operation: str, params: Dict[str, str],
                     removes, *,
                     kept: Optional[DataFrame] = None,
                     updated: Optional[Tuple[DataFrame, DataFrame]] = None,
                     deleted: Optional[DataFrame] = None,
                     inserted: Optional[DataFrame] = None,
                     actions: Sequence[Any] = (),
                     data_change: bool = True,
                     metrics: Callable[[List[AddFile]],
                                       Optional[Dict[str, str]]]
                     = lambda adds: None,
                     user_metadata: Optional[str] = None) -> int:
        """The one commit of every change that adds data files: append,
        overwrite, the streaming sink, DELETE, UPDATE, MERGE,
        replaceWhere, OPTIMIZE and REORG.

        Its inputs are row legs, each a frame over the table's logical
        columns: ``kept`` rows of the replaced files, ``updated``
        (pre-image, post-image) frames, ``deleted`` and ``inserted``
        rows. Under row tracking every leg but ``inserted`` carries
        ``_row_id``/``_row_commit_version`` as
        ``Snapshot.to_df(with_row_ids=True)`` yields them. ``removes``
        is the list of files the commit replaces (``_whole_table``
        for every live file).
        ``actions`` join the same commit (SetTransaction,
        DomainMetadata, a DV delete's re-adds). ``data_change=False``
        marks a layout-only rewrite (OPTIMIZE, REORG: a kept leg).
        ``metrics(adds)`` gives the commit's operationMetrics.

        The rules, each stated here once:
        - metadata: the effective one, ``txn.new_metadata`` or the
          snapshot's, so creating and schema-evolving appends commit
          here too;
        - new rows (inserted rows and post-images) conform, in order:
          identity values are allocated for inserted rows (a supplied
          one is refused); an absent generated column is computed, a
          present one checked; CHECK constraints; invariants;
        - row tracking: rows keep their id unless inserted, and their
          commit version unless this commit changes them — a NULL
          falls back to the new file's defaultRowCommitVersion (or, in
          the change feed, to ``_commit_version``). A kept leg thus
          materializes its ids into the rewritten files, so OPTIMIZE
          and REORG never renumber rows (fresh baseRowId + row-index
          ids would);
        - with CDF on, the change rows (pre/post images, deleted and
          inserted rows) are derived from the legs and staged in the
          data write's own job (writer.py's CDC layout). A commit that
          only drops whole files and adds new ones writes none: the
          change reader synthesizes it exactly from its actions;
        - one staging call; partition columns, stats width, schema
          order, bloom columns and physical names all come from the
          effective metadata;
        - one commit through ``txn.commit``, which derives the
          isolation level and blind-append flag from the actions."""
        meta = txn.new_metadata or txn.snapshot.metadata
        conf = TableConfig(meta.configuration)
        tcols = [f.name for f in meta.schema.fields]
        rt_cols = materialized_rt_cols(meta) if conf.enable_row_tracking \
            else None
        what = {"UPDATE": "updated", "MERGE": "merged",
                "STREAMING UPDATE": "streamed"}.get(operation, "written")

        def conform(df: DataFrame, insert: bool) -> DataFrame:
            if insert:
                df = _apply_identity(txn, df, meta)
            df = _fill_and_check_generated(df, meta, what)
            _enforce_constraints(df, meta.configuration, what)
            _enforce_invariants(df, meta, what)
            return df

        def leg(df, keep_version: Optional[bool],
                change_type: Optional[str] = None) -> DataFrame:
            # keep_version None is an inserted frame: it already holds
            # exactly the table's columns and no row ids, which the
            # union fills with NULL (a pure append writes none)
            cols: List[Any] = ["*"] if keep_version is None \
                else [F.col(c) for c in tcols]
            if rt_cols is not None and keep_version is not None:
                cols += [F.col("_row_id").alias(rt_cols[0]),
                         (F.col("_row_commit_version") if keep_version
                          else F.lit(None).cast("long")).alias(rt_cols[1])]
            if change_type is not None:
                cols.append(F.lit(change_type).alias(CHANGE_TYPE_COL))
            return df.select(*cols)

        def union(frames: List[DataFrame]) -> DataFrame:
            return functools.reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                frames)

        data: List[DataFrame] = []
        changes: List[Tuple[DataFrame, Optional[bool], str]] = []
        if kept is not None:
            data.append(leg(kept, True))
        if updated is not None:
            pre, post = updated[0], conform(updated[1], insert=False)
            data.append(leg(post, False))
            changes += [(pre, True, "update_preimage"),
                        (post, False, "update_postimage")]
        if deleted is not None:
            changes.append((deleted, True, "delete"))
        if inserted is not None:
            inserted = conform(inserted, insert=True)
            data.append(inserted)
            changes.append((inserted, None, "insert"))
        cdc = None
        if conf.enable_change_data_feed and changes \
                and (kept is not None or updated is not None
                     or deleted is not None):
            cdc = union([leg(*c) for c in changes])
        adds: List[AddFile] = []
        cdcs: List[Any] = []
        if data:
            staged = stage_and_collect(
                union(data),
                self.log.table_path, meta.partitionColumns,
                data_change=data_change,
                num_indexed_cols=conf.data_skipping_num_indexed_cols,
                schema_cols=tcols,
                bloom_cfg=bloom_config(meta.configuration),
                physical_meta=meta, cdc_df=cdc)
            adds, cdcs = staged if cdc is not None else (staged, [])
        elif cdc is not None:
            cdcs = stage_cdc_and_collect(cdc, self.log.table_path,
                                         meta.partitionColumns,
                                         physical_meta=meta)
        now = int(time.time() * 1000)
        return txn.commit(
            list(adds) + [f.remove(now, data_change=data_change)
                          for f in removes] + list(actions) + cdcs,
            operation, params, operation_metrics=metrics(adds),
            user_metadata=user_metadata)

    def delete(self, predicate: Optional[Expression] = None,
               deletion_vectors: bool = False) -> int:
        """DELETE: drop whole files when the predicate is partition-only,
        else rewrite only the touched files (SURVEY §7 P6; op names
        Operation.java:43-105). With ``deletion_vectors=True`` a
        row-level delete records deleted positions in a sidecar instead
        of rewriting the touched files (dv.py) — the scale path when the
        deleted rows are a small fraction of very large files."""
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        if predicate is None:
            return self._commit_legs(txn, "DELETE", {"predicate": "true"},
                                     _whole_table(txn))
        candidates = txn.mark_files_as_read(predicate)
        residual = DeltaScan(snap, predicate).residual
        if residual is not None and deletion_vectors:
            return self._delete_with_dv(txn, snap, predicate, candidates)
        if residual is None:
            # whole-file delete: metadata-only even with CDF on
            return self._commit_legs(txn, "DELETE", {}, candidates)
        df = _scan_rows(snap, candidates)
        hit = F.coalesce(predicate.to_column(F.col), F.lit(False))
        return self._commit_legs(txn, "DELETE", {}, candidates,
                                 kept=df.where(~hit),
                                 deleted=df.where(hit))

    def _delete_with_dv(self, txn, snap, predicate, candidates) -> int:
        """Row-level delete via deletion vectors: the touched files stay
        physically untouched; their deleted positions (old DV ∪ new
        hits) land in one new sidecar and each file is re-added with its
        tag repointed. I/O is bounded by the deleted rows (sidecar +
        optional CDC), never by the file sizes being deleted from."""
        import dataclasses

        from .dv import DV_CARD_TAG, DV_TAG, dv_relation, stage_dv
        params = {"deletionVectors": "true"}
        if not candidates:
            return txn.commit([], "DELETE", params)
        hit = F.coalesce(predicate.to_column(F.col), F.lit(False))
        # Materialized once: reused for the sidecar write, the touched-
        # file list and the change rows. __ri is each row's physical
        # index, which a DV delete never renumbers.
        hits = (_scan_rows(snap, candidates, with_file_col=True,
                           with_row_index=True)
                .where(hit).localCheckpoint(eager=True))
        touched = sorted({r["__file"] for r in
                          hits.select("__file").distinct().collect()})
        if not touched:
            return txn.commit([], "DELETE", params)
        cand = {f.path: f for f in candidates}
        new_dv = hits.select(F.col("__file").alias("file_path"),
                             F.col("__ri").alias("row_index"))
        prior = [(p, cand[p].tags[DV_TAG], 0) for p in touched
                 if (cand[p].tags or {}).get(DV_TAG)]
        if prior:
            new_dv = new_dv.unionByName(
                dv_relation(self.spark, snap.table_path, prior)
                .drop("__dvkey"))
        rel, counts = stage_dv(self.spark, snap.table_path, new_dv)
        readds: List[AddFile] = []
        for p in touched:
            f = cand[p]
            # A DV that covers every physical row means the file is
            # fully dead: drop it outright instead of re-adding a
            # zero-live-row file (delta-spark removes fully-deleted
            # files during DV deletes; keeping them would leave ghost
            # partitions in SHOW PARTITIONS and dead entries in every
            # later scan's DV anti-join).
            n_phys = None
            if f.stats:
                try:
                    n_phys = json.loads(f.stats).get("numRecords")
                except (ValueError, TypeError):
                    n_phys = None
            if n_phys is not None and counts.get(p, 0) >= n_phys:
                continue
            tags = dict(f.tags or {})
            tags[DV_TAG] = rel
            tags[DV_CARD_TAG] = str(counts.get(p, 0))
            readds.append(dataclasses.replace(
                f, tags=tags, dataChange=True))
        # A file's new cardinality is its old DV's plus this delete's
        # hits (the scan already dropped the old DV's rows), so the
        # deleted rows need no count job.
        deleted = sum(counts.get(p, 0)
                      - int((cand[p].tags or {}).get(DV_CARD_TAG, 0))
                      for p in touched)
        dv_metrics = {"numDeletedRows": str(deleted),
                      "numDeletionVectorsAdded": str(len(touched))}
        return self._commit_legs(
            txn, "DELETE", params, [cand[p] for p in touched],
            deleted=hits, actions=readds, metrics=lambda adds: dv_metrics)

    def update(self, set_exprs: Dict[str, Any],
               predicate: Optional[Expression] = None) -> int:
        """UPDATE: rewrite files containing matching rows."""
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        bad_id = set(set_exprs) & set(_identity_cols(snap.metadata))
        if bad_id:
            raise DeltaError(
                f"columns {sorted(bad_id)} are GENERATED ALWAYS AS "
                f"IDENTITY and cannot be updated")
        candidates = txn.mark_files_as_read(predicate)
        if not candidates:
            return txn.commit([], "UPDATE", {})
        cond = predicate.to_column(F.col) if predicate is not None \
            else F.lit(True)
        # Mark matched rows ONCE against pre-update values: set_exprs may
        # rewrite columns the predicate reads.
        marked = _scan_rows(snap, candidates).withColumn(
            "__hit", F.coalesce(cond, F.lit(False)))
        hits = marked.where("__hit")
        if TableConfig(snap.metadata.configuration).enable_change_data_feed:
            # three legs read the hit rows: post-image data, and both
            # change images
            hits = _materialize(hits, _stats_numrecords_bound(candidates))
        # A generated column the SET list doesn't assign is dropped, so
        # the commit recomputes it (delta-spark recomputes in this path
        # rather than failing the stale value against the expression).
        gens = _generated_exprs(snap.metadata)
        post = hits.select(*[
            (_as_col(set_exprs[c]) if c in set_exprs else F.col(c)).alias(c)
            for c in hits.columns if c in set_exprs or c not in gens])
        return self._commit_legs(txn, "UPDATE", {}, candidates,
                                 kept=marked.where(~F.col("__hit")),
                                 updated=(hits, post))

    def merge(self, source: DataFrame, condition,
              when_matched_update: Optional[Dict[str, Any]] = None,
              when_matched_delete: bool = False,
              when_not_matched_insert: bool = True,
              predicate=None) -> int:
        """MERGE (upsert): find touched files with a semi-join, rewrite only
        those, insert unmatched source rows. ``condition`` is a SQL string
        over ``t`` (target) and ``s`` (source) aliases.

        ``predicate`` (optional, an ``expressions.Expression`` over
        partition columns) narrows the merge's CONFLICT FOOTPRINT: the
        target scan is pruned to matching files and the txn records the
        predicate via ``mark_files_as_read`` instead of
        ``read_whole_table`` (OptimisticTransactionImpl.scala:162-172),
        so merges over disjoint partitions commit concurrently. The
        caller must ensure the merge condition implies the predicate
        (the standard Delta partition-scoped-merge contract) — target
        rows outside it are invisible to this merge."""
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        if predicate is None:
            txn.read_whole_table()
            scoped_files = None         # whole table
        else:
            # The scoping contract is partition-level: a data-column
            # predicate can't prune files by partitionValues, and its
            # J2 conflict evaluation would be three-valued-unknown on
            # every concurrent add. Reject it here with a clear error
            # rather than silently degrading the conflict footprint.
            part_cols = set(snap.metadata.partitionColumns)
            predicate = bind(predicate, snap.metadata.schema)
            extra = predicate.references() - part_cols
            if extra:
                raise ValueError(
                    f"merge predicate may only reference partition columns "
                    f"{sorted(part_cols)}; got non-partition column(s) "
                    f"{sorted(extra)}")
            scoped_files = txn.mark_files_as_read(predicate)
        target = snap.to_df(files=scoped_files).alias("t")
        # Materialize the source once: it is referenced by three plans
        # (touched-file discovery, matched join, insert anti-join) and a
        # nondeterministic source (limit/sample/rand) would otherwise give
        # each a different view -- the classic merge-source hazard.
        source = source.localCheckpoint(eager=True)
        src = source.alias("s")
        cond = F.expr(condition) if isinstance(condition, str) else condition

        meta = snap.metadata
        rt = TableConfig(meta.configuration).enable_row_tracking
        rid = ["_row_id", "_row_commit_version"] if rt else []
        tcols = [f.name for f in meta.schema.fields]
        gens = _generated_exprs(meta)

        # ONE scan of the target answers both merge questions — which
        # files are touched AND what the matched (target, source) row
        # pairs are. The join output is projected to collision-free
        # names, matched-update expressions are evaluated HERE while
        # t/s alias resolution is still alive (aliases do not survive a
        # checkpoint), and the result is materialized: it is O(matched
        # rows), the small relation of the merge by construction. The
        # pre/post images and touched paths derive from it without
        # rescanning the target. __file comes from to_df itself
        # (_metadata.file_path inside each single-source scan), which
        # stays legal once a DV anti-join makes the plan multi-source.
        with_all = snap.to_df(files=scoped_files, with_file_col=True,
                              with_row_ids=rt)
        proj = [F.col(f"t.{c}").alias(f"__t_{c}") for c in tcols]
        if when_matched_update is not None:
            bad_id = set(when_matched_update) & set(_identity_cols(meta))
            if bad_id:
                raise DeltaError(
                    f"columns {sorted(bad_id)} are GENERATED ALWAYS AS "
                    f"IDENTITY and cannot be updated")
            proj += [_as_col(when_matched_update[c]).alias(f"__u_{c}")
                     for c in when_matched_update if c in set(tcols)]
        proj += [F.col("__file")] + [F.col(f"t.{c}").alias(c) for c in rid]
        # The matched rows are estimated driver-side: the scoped
        # target's stats numRecords bound them outright when small;
        # otherwise the (checkpointed) source count stands in (matched
        # ≈ source rows under the usual key-equi condition; a
        # many-to-many fanout can exceed it — the budget is a heuristic
        # guard, not a hard cap).
        tgt_bound = _stats_numrecords_bound(
            snap._files_rows if scoped_files is None else scoped_files)
        est = tgt_bound if (tgt_bound is not None
                            and tgt_bound <= _DML_MATERIALIZE_MAX_ROWS) \
            else source.count()
        matched = _materialize(
            with_all.alias("t").join(src, cond, "inner").select(*proj), est)

        # Touched files: the distinct __file set of the matched
        # relation, intersected with the Snapshot's inventory
        # driver-side; they become the commit's RemoveFile list.
        touched_paths = {r["__file"] for r in
                         matched.select("__file").distinct().collect()}
        touched = addfiles_from_rows([r for r in snap._files_rows
                                      if r["path"] in touched_paths])
        # target rows in touched files with no source match stay as-is
        kept = _scan_rows(snap, touched).alias("t").join(
            src, cond, "left_anti")
        pre = matched.select(*[F.col(f"__t_{c}").alias(c) for c in tcols],
                             *rid)
        updated = deleted = inserted = None
        if when_matched_update is not None:
            # a generated column the SET list doesn't assign is dropped:
            # the commit recomputes it
            post = matched.select(*[
                F.col(f"__u_{c}" if c in when_matched_update
                      else f"__t_{c}").alias(c) for c in tcols
                if c in when_matched_update or c not in gens], *rid)
            updated = (pre, post)
        elif when_matched_delete:
            deleted = pre
        else:
            kept = kept.unionByName(pre)
        if when_not_matched_insert:
            # the commit fills the generated and identity columns the
            # source lacks; other absent columns insert as NULL
            scols = set(source.columns)
            fill = _filled_cols(meta)
            inserted = (src.join(target, cond, "left_anti")
                        .select(*[(F.col(f"s.{c}") if c in scols
                                   else F.lit(None)).alias(c)
                                  for c in tcols
                                  if c in scols or c not in fill]))
        return self._commit_legs(
            txn, "MERGE", {"predicate": str(condition)}, touched,
            kept=kept, updated=updated, deleted=deleted, inserted=inserted)

    # ----------------------------------------------------------- changes

    def changes_df(self, start_version: int = 0,
                   end_version: Optional[int] = None,
                   ignore_deletes: bool = False,
                   ignore_changes: bool = False,
                   allow_initial_changes: bool = False) -> DataFrame:
        """Rows added in [start_version, end_version] with a ``_commit_version``
        column; per-version validation per ST3 (ActionProcessor.java:56-110)."""
        from .streaming.changes import changes_df
        return changes_df(self, start_version, end_version,
                          ignore_deletes=ignore_deletes,
                          ignore_changes=ignore_changes,
                          allow_initial_changes=allow_initial_changes)

    # ------------------------------------------------------- constraints

    def set_nullable(self, name: str, nullable: bool = True) -> int:
        """ALTER COLUMN ... {DROP | SET} NOT NULL. Relaxing is a
        metadata-only commit; TIGHTENING first validates the whole
        current table has no NULLs in the column (one scan, same
        stance as add_constraint) so the invariant is true from the
        moment it is declared."""
        import dataclasses
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        meta = snap.metadata
        field = next((f for f in meta.schema.fields if f.name == name),
                     None)
        if field is None:
            raise DeltaError(f"no such column: {name!r}")
        if field.nullable == nullable:
            return snap.version
        if not nullable:
            txn.read_whole_table()
            bad = snap.to_df().where(F.col(name).isNull()).limit(1)
            if bad.collect():
                raise DeltaError(
                    f"cannot SET NOT NULL on {name!r}: existing rows "
                    f"contain NULLs")
        fields = [T.StructField(f.name, f.dataType,
                                nullable if f.name == name else f.nullable,
                                f.metadata)
                  for f in meta.schema.fields]
        # the generic evolution guard refuses tightening (correct for
        # WRITE-time evolution); this ALTER just validated the data,
        # so it bypasses like RESTORE does
        txn.update_metadata(dataclasses.replace(
            meta, schemaString=json.dumps(
                T.StructType(fields).jsonValue())),
            overwrite_schema=not nullable)
        return txn.commit([], "ALTER COLUMN",
                          {"column": name,
                           "nullable": str(nullable).lower()})

    def add_constraint(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT: validate the WHOLE current table
        satisfies ``expr`` (one scan), then commit a Metadata whose
        configuration carries ``delta.constraints.<name>``. Every later
        data-adding commit re-validates its own rows (_enforce_constraints)."""
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        key = f"delta.constraints.{name.lower()}"
        if key in snap.metadata.configuration:
            raise DeltaError(f"constraint {name!r} already exists")
        txn.read_whole_table()
        _enforce_constraints(
            snap.to_df(), {key: expr}, "existing")
        meta = snap.metadata
        import dataclasses
        new_meta = dataclasses.replace(
            meta, configuration={**meta.configuration, key: expr})
        txn.update_metadata(new_meta)
        return txn.commit([], "ADD CONSTRAINT",
                          {"name": name, "expr": expr})

    def drop_constraint(self, name: str) -> int:
        txn = self.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        key = f"delta.constraints.{name.lower()}"
        if key not in snap.metadata.configuration:
            raise DeltaError(f"constraint {name!r} does not exist")
        meta = snap.metadata
        conf = {k: v for k, v in meta.configuration.items() if k != key}
        import dataclasses
        new_meta = dataclasses.replace(meta, configuration=conf)
        txn.update_metadata(new_meta)
        return txn.commit([], "DROP CONSTRAINT", {"name": name})

    def table_changes(self, start_version: int = 0,
                      end_version: Optional[int] = None,
                      with_row_ids: bool = False) -> DataFrame:
        """Row-level Change Data Feed: table columns + ``_change_type``
        (insert / delete / update_preimage / update_postimage) +
        ``_commit_version``. DML commits describe their changes exactly via
        CDC files when ``delta.enableChangeDataFeed`` is set; other commits
        synthesize inserts/deletes from their dataChange actions
        (streaming/cdf.py; reference action model actions.scala:164-172).
        ``with_row_ids=True`` (row-tracked tables) appends ``_row_id`` /
        ``_row_commit_version`` to each change row."""
        from .streaming.cdf import table_changes
        return table_changes(self, start_version, end_version,
                             with_row_ids=with_row_ids)

    def table_changes_by_timestamp(
            self, start_ts_ms: int,
            end_ts_ms: Optional[int] = None) -> DataFrame:
        """Change Data Feed bounded by TIMESTAMPS instead of versions
        (delta-spark's startingTimestamp/endingTimestamp option pair):
        start resolves to the first commit at-or-after it, end to the
        last commit at-or-before it, against the monotonized history
        (log/history.py) — well-defined even under commit-file
        clock skew. An empty window returns an empty frame."""
        start_v = self.log.version_at_or_after_timestamp(start_ts_ms)
        if end_ts_ms is None:
            return self.table_changes(start_v)
        end_v = self.log.version_before_or_at_timestamp(end_ts_ms)
        if end_v < start_v:
            # empty window between two commits: right schema, no rows
            return self.table_changes(start_v, start_v).limit(0)
        return self.table_changes(start_v, end_v)

    # ------------------------------------------------------------- clone

    def clone_to(self, target_path: str, version: Optional[int] = None,
                 timestamp_ms: Optional[int] = None,
                 deep: bool = False) -> Dict[str, Any]:
        """CLONE this table (optionally at an earlier version/timestamp)
        into a new table at ``target_path``.

        Shallow (default): the clone's AddFiles reference the source's
        data files by ABSOLUTE path — zero data movement, O(#files)
        metadata work, so cloning a 100 TB table commits in seconds.
        The clone is then fully independent: DML on it copy-on-writes
        new files under the clone's own root (untouched files keep
        pointing at the source), VACUUM on the clone never deletes
        outside its root, and the source's history/log is not shared
        (the clone starts at version 0). This is Delta's
        ``CLONE ... SHALLOW`` / the absolute-path AddFile protocol the
        reference resolves in SnapshotImpl.canonicalizePath
        (SnapshotImpl.scala:349-362) and FileNames.absolutePath
        (FileNames.scala:100-107).

        Deep: additionally copies every active data file, and every
        deletion-vector sidecar they reference, under the target root
        (relative paths). The DATA MOVEMENT — the 100 TB
        part — runs as a distributed job over the file list through the
        store; the driver builds the action list from the source
        Snapshot's file rows (inherent: the commit enumerates the files
        either way).

        The target must not already exist. Returns
        {version, sourceVersion, filesCloned, bytesCloned}.
        """
        import dataclasses
        src = self._resolve(version, timestamp_ms)
        tgt_log = DeltaLog.for_table(self.spark, target_path)
        txn = tgt_log.start_transaction()
        if txn.snapshot is not None and txn.read_version >= 0:
            raise DeltaError(f"CLONE target already exists: {target_path}")
        now = int(time.time() * 1000)
        txn.update_metadata(dataclasses.replace(
            src.metadata, id=str(uuid.uuid4()), createdTime=now))
        tgt_root = tgt_log.table_path
        src_root = src.table_path
        summary = src.state_summary()
        n_files, bytes_cloned = summary["numOfFiles"], summary["sizeInBytes"]

        def _dest_rel(absolute: str) -> str:
            # deterministic (md5-derived, not uuid): the deep-copy job
            # and the action list compute it independently
            if absolute.startswith(src_root + "/"):
                return os.path.relpath(absolute, src_root)
            digest = hashlib.md5(absolute.encode()).hexdigest()
            return f"{digest}-{os.path.basename(absolute)}"

        def _placed(absolute: str) -> str:
            # where a source file sits for the clone: a copy under the
            # target root (deep), or the source file itself (shallow)
            return (os.path.join(tgt_root, _dest_rel(absolute)) if deep
                    else absolute)

        # Data paths are physical; the commit's relativize encodes them.
        # A deletion-vector tag is a log path relative to the SOURCE
        # root, so it is re-encoded against the target root.
        from .dv import DV_TAG, copy_sidecar
        adds, copies = [], {}
        for f in addfiles_from_rows(src._files_rows):
            copies[f.path] = False
            tags = f.tags
            if (tags or {}).get(DV_TAG):
                sidecar = canonical_path(tags[DV_TAG], src_root)
                copies[sidecar] = True
                tags = {**tags, DV_TAG: relativize(_placed(sidecar),
                                                   tgt_root)}
            adds.append(dataclasses.replace(
                f, path=_placed(f.path), tags=tags, dataChange=True,
                modificationTime=now))

        if deep and n_files:
            store = tgt_log.store

            def copy_files(batches):
                import pandas as pd
                for pdf in batches:
                    for p, is_sidecar in zip(pdf["path"], pdf["sidecar"]):
                        if is_sidecar:
                            copy_sidecar(p, _placed(p), _placed)
                        else:
                            store.copy_file(p, _placed(p))
                    yield pd.DataFrame({"n": [len(pdf)]})

            # data files and the DV sidecars they reference (a sidecar
            # may serve several files: copied once, its rows re-pointed
            # at the copies)
            copied = sum(r["n"] for r in fan_out(
                self.spark, list(copies.items()),
                "path string, sidecar boolean", copy_files,
                "n long").collect())
            assert copied == len(copies), (copied, len(copies))
        head: List[Any] = []
        if (src.protocol.minReaderVersion,
                src.protocol.minWriterVersion) != (1, 2):
            # a feature-protocol source (column mapping, DVs) keeps its
            # protocol on the clone — the cloned AddFiles carry the same
            # physical names / DV tags, so a legacy-reader-refuses gate
            # must survive the clone
            head.append(src.protocol)
        ver = txn.commit(
            head + adds, "CLONE",
            operation_parameters={"source": self.path,
                                  "sourceVersion": str(src.version),
                                  "isShallow": json.dumps(not deep)},
            operation_metrics={"numClonedFiles": str(n_files),
                               "clonedBytes": str(bytes_cloned)})
        return {"version": ver, "sourceVersion": src.version,
                "filesCloned": n_files, "bytesCloned": bytes_cloned}


def _whole_table(txn: OptimisticTransaction) -> List[AddFile]:
    """Every live file of the txn's read snapshot, recorded as a
    whole-table read: the removes of an overwrite and of an
    unconditional DELETE."""
    txn.read_whole_table()
    return txn.snapshot.all_files()


def _nested_fields(dtype) -> Any:
    """The nested field names of a data type, leaf types erased: two
    columns whose values hold different field sets compare unequal."""
    if isinstance(dtype, T.StructType):
        return frozenset((f.name, _nested_fields(f.dataType))
                         for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return ("array", _nested_fields(dtype.elementType))
    if isinstance(dtype, T.MapType):
        return ("map", _nested_fields(dtype.keyType),
                _nested_fields(dtype.valueType))
    return None


def _parse_dtype(ddl: str):
    """DataType from a DDL string ('bigint', 'array<string>', ...)."""
    try:
        return T.DataType.fromDDL(ddl)
    except AttributeError:                      # older pyspark
        return T._parse_datatype_string(ddl)


def _enforce_constraints(df: DataFrame, configuration: Dict[str, str],
                         what: str) -> None:
    """Reject the commit if any row violates a CHECK constraint. SQL
    semantics: a row passes when the expression is TRUE or NULL; only
    FALSE violates. One filter scan per constrained batch -- the filter
    pushes into the batch's source scan, and the batch being committed is
    (at 100 TB) vastly smaller than the table it lands in."""
    checks = TableConfig(configuration).check_constraints
    if not checks:
        return
    for name in sorted(checks):
        expr = checks[name]
        bad = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        row = df.where(~bad).limit(1).collect()
        if row:
            raise DeltaError(
                f"CHECK constraint {name} ({expr}) violated by {what} "
                f"row: {row[0].asDict()}")


_INVARIANT_KEY = "delta.invariants"


def _enforce_invariants(df: DataFrame, meta, what: str) -> None:
    """Writer-version-2 INVARIANTS (the feature Protocol(1,2) already
    claims — actions.scala:31-35; Delta spec "Column Invariants"):

    - a top-level field with ``nullable = false`` rejects NULL values
      (NOT NULL enforcement; nested fields are out of scope and a
      nested non-null spec never silently passes — there is no
      nested-write path that drops the check, because writes conform
      to the table schema before this point);
    - field metadata ``delta.invariants`` carries a JSON-wrapped SQL
      expression ({"expression": {"expression": "<sql>"}}) that every
      row must satisfy (TRUE or NULL passes, FALSE violates — the
      same three-valued rule as CHECK constraints).

    One combined filter scan per batch (conditions AND-folded), so the
    cost stance matches _enforce_constraints — including its
    disclosed caveat: the check re-evaluates the batch lineage, so a
    NONDETERMINISTIC source could pass validation yet write different
    rows. The paths where that hazard is live already materialize
    first (merge's localCheckpoint'd source, identity allocation);
    plain appends of nondeterministic frames share the caveat with
    CHECK constraints."""
    conds = []
    labels = []
    for f in meta.schema.fields:
        if f.name not in df.columns:
            continue
        if not f.nullable:
            conds.append(F.col(f.name).isNotNull())
            labels.append((f"NOT NULL column {f.name!r}",
                           conds[-1]))
        inv = (f.metadata or {}).get(_INVARIANT_KEY)
        if inv:
            try:
                expr = json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                raise DeltaError(
                    f"malformed {_INVARIANT_KEY} on column "
                    f"{f.name!r}: {inv!r}")
            ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
            conds.append(ok)
            labels.append((f"invariant on {f.name!r} ({expr})", ok))
    if not conds:
        return
    keep = conds[0]
    for c in conds[1:]:
        keep = keep & c
    row = df.where(~keep).limit(1).collect()
    if row:
        # one more tiny pass to NAME the violated rule (error-path only)
        for label, c in labels:
            if df.where(~c).limit(1).collect():
                raise DeltaError(
                    f"{label} violated by {what} row: "
                    f"{row[0].asDict()}")
        raise DeltaError(
            f"invariant violated by {what} row: {row[0].asDict()}")


_GEN_KEY = "delta.generationExpression"


def _references(sql: str, column: str) -> bool:
    """True when the SQL text ``sql`` (a CHECK constraint or generation
    expression) names ``column`` as a whole word, case-insensitively as
    Spark resolves it: ``amount > 0`` references ``amount``, not
    ``a``."""
    return re.search(rf"(?<!\w){re.escape(column)}(?!\w)", sql,
                     re.IGNORECASE) is not None


def _generated_exprs(meta) -> Dict[str, Tuple[Any, str]]:
    """name -> (dataType, expression) for GENERATED ALWAYS AS columns
    (field metadata key delta.generationExpression — the Delta
    protocol's representation)."""
    out: Dict[str, Tuple[Any, str]] = {}
    for f in meta.schema.fields:
        expr = (f.metadata or {}).get(_GEN_KEY)
        if expr:
            out[f.name] = (f.dataType, expr)
    return out


def _fill_and_check_generated(df: DataFrame, meta, what: str) -> DataFrame:
    """Generated-column contract on a data-adding batch: an ABSENT
    generated column is computed from its expression; a PRESENT one is
    validated row-wise against it (null-safe equality — supplying a
    divergent value is an error, exactly delta-spark's rule). One
    limit-1 probe per supplied generated column, same cost stance as
    CHECK constraints."""
    gens = _generated_exprs(meta)
    if not gens:
        return df
    for name, (dtype, expr) in gens.items():
        val = F.expr(expr).cast(dtype)
        if name not in df.columns:
            df = df.withColumn(name, val)
            continue
        bad = df.where(~F.col(name).eqNullSafe(val)).limit(1).collect()
        if bad:
            raise DeltaError(
                f"generated column {name!r} (GENERATED ALWAYS AS "
                f"{expr}) violated by {what} row: {bad[0].asDict()}")
    return df


_ID_START = "delta.identity.start"
_ID_STEP = "delta.identity.step"
_ID_HWM = "delta.identity.highWaterMark"


def _identity_cols(meta) -> Dict[str, Tuple[Any, int, int, int]]:
    """name -> (dataType, start, step, highWaterMark) for GENERATED
    ALWAYS AS IDENTITY columns (the Delta protocol's field-metadata
    keys; the high-water mark advances via the same metadata commit
    that adds the rows, so concurrent allocators conflict-check like
    any metadata writers)."""
    out: Dict[str, Tuple[Any, int, int, int]] = {}
    for f in meta.schema.fields:
        md = f.metadata or {}
        if _ID_START in md:
            start, step = int(md[_ID_START]), int(md[_ID_STEP])
            hwm = int(md.get(_ID_HWM, start - step))
            out[f.name] = (f.dataType, start, step, hwm)
    return out


def _allocate_identity(df: DataFrame, name: str, dtype, step: int,
                       hwm: int) -> Tuple[DataFrame, int]:
    """Allocate the next n identity values across the frame with ZERO
    shuffle: monotonically_increasing_id encodes (partition id << 33 |
    row number), so with one tiny per-partition count pass the global
    index is a narrow expression — no window, no single-task funnel,
    no repartition. Values are unique and the allocated SET is exactly
    {hwm+step, ..., hwm+step*n}; the row→value assignment follows the
    frame's physical partitioning (like delta-spark's allocator).
    Returns (df with the column, new high-water mark).

    The counts pass and the eventual write are two Spark jobs over the
    same frame, so the partition layout MUST be identical between them:
    a nondeterministic upstream (sample/limit/rand/shuffle replay) or
    an AQE re-coalesce would otherwise skew the offsets and produce
    duplicate or skipped ids. localCheckpoint pins the partitions once
    (same defence merge() uses for its thrice-referenced source)."""
    df = df.localCheckpoint(eager=True)
    counts = {r["_pid"]: r["cnt"] for r in
              df.groupBy(F.spark_partition_id().alias("_pid"))
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(counts.values())
    if n == 0:
        return df.withColumn(name, F.lit(None).cast(dtype)), hwm
    max_pid = max(counts)
    offsets, acc = [], 0
    for pid in range(max_pid + 1):
        offsets.append(acc)
        acc += counts.get(pid, 0)
    off_arr = F.array(*[F.lit(o).cast("long") for o in offsets])
    mid = F.monotonically_increasing_id()
    pid = (mid / F.lit(1 << 33)).cast("long")
    rn = mid % F.lit(1 << 33)
    gidx = F.element_at(off_arr, (pid + 1).cast("int")) + rn
    val = (F.lit(hwm) + F.lit(step) * (gidx + F.lit(1))).cast(dtype)
    return df.withColumn(name, val), hwm + step * n


def _apply_identity(txn, df: DataFrame, meta) -> DataFrame:
    """Fill every identity column of a batch being written and stage
    the advanced high-water marks as a metadata update on ``txn``
    (same commit as the adds). Supplying the column explicitly is
    refused — GENERATED ALWAYS AS IDENTITY, delta-spark's default."""
    import dataclasses
    ids = _identity_cols(meta)
    if not ids:
        return df
    fields = {f.name: f for f in meta.schema.fields}
    changed = False
    for name, (dtype, start, step, hwm) in ids.items():
        if name in df.columns:
            raise DeltaError(
                f"column {name!r} is GENERATED ALWAYS AS IDENTITY and "
                f"cannot be written to")
        df, new_hwm = _allocate_identity(df, name, dtype, step, hwm)
        if new_hwm != hwm:
            f = fields[name]
            md = dict(f.metadata or {})
            md[_ID_HWM] = new_hwm
            fields[name] = T.StructField(f.name, f.dataType,
                                         f.nullable, md)
            changed = True
    if changed:
        base = txn.new_metadata or meta
        new_schema = T.StructType(
            [fields.get(f.name, f) for f in meta.schema.fields])
        # Refine (not duplicate) any already-staged metadata update so
        # the commit still carries exactly one Metadata action.
        txn.new_metadata = None
        txn.update_metadata(dataclasses.replace(
            base, schemaString=json.dumps(new_schema.jsonValue())))
    return df


def _filled_cols(meta) -> set:
    """Columns an incoming frame may omit: the commit's conformance
    fills generated and identity columns."""
    return set(_generated_exprs(meta)) | set(_identity_cols(meta))


def _compact_log_range(log, table_path: str, start: int,
                       end: int) -> Dict[str, int]:
    """Net-fold the delta range [start, end] into
    ``<start>.<end>.compacted.json`` (the shared core of
    TableMaintenance.compact_log and post-commit auto-compaction).

    The fold keys add/remove actions by CANONICAL path, exactly as
    snapshot replay dedups (canonical_path, SnapshotImpl.scala:349-362):
    a foreign-written log may spell the same file two ways (relative vs
    file:// absolute, escaped vs not) and keying by the raw string would
    retain BOTH the add and the later remove — replay's same-version
    "add wins" tiebreak would then resurrect a deleted file. The
    retained action keeps its original (last-seen) spelling.

    Best-effort publish: two racing compactors of the same range write
    identical content, so losing the put-if-absent race is a no-op; any
    other failure propagates."""
    from .log.actions import AddCDCFile, to_json_line
    from .log.logstore import FileAlreadyExistsError
    per_path: Dict[str, Any] = {}
    meta = proto = None
    txns: Dict[str, Any] = {}
    domains: Dict[str, Any] = {}
    n_in = 0
    for v in range(start, end + 1):
        for a in read_commit(log.store, fn.delta_file(log.log_path, v)):
            if isinstance(a, (CommitInfo, AddCDCFile)):
                continue
            n_in += 1
            if isinstance(a, (AddFile, RemoveFile)):
                per_path[canonical_path(a.path, table_path)] = a
            elif isinstance(a, Metadata):
                meta = a
            elif isinstance(a, Protocol):
                proto = a
            elif isinstance(a, SetTransaction):
                txns[a.appId] = a
            elif isinstance(a, DomainMetadata):
                # net fold per domain; removed=True tombstones are
                # RETAINED (they must keep overriding an entry an older
                # checkpoint still carries)
                domains[a.domain] = a
    acts: List[Any] = []
    if proto is not None:
        acts.append(proto)
    if meta is not None:
        acts.append(meta)
    acts += [txns[k] for k in sorted(txns)]
    acts += [domains[k] for k in sorted(domains)]
    acts += [per_path[p] for p in sorted(per_path)]
    target = fn.compacted_file(log.log_path, start, end)
    try:
        log.store.write(target, [to_json_line(a) for a in acts],
                        overwrite=False)
    except FileAlreadyExistsError:
        pass  # lost the race to an IDENTICAL file — a no-op
    return {"start": start, "end": end, "actionsIn": n_in,
            "actionsOut": len(acts)}
