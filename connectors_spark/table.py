"""DeltaLog + DeltaTable: the engine's user-facing API.

Read lifecycle (SURVEY §3.1): ``DeltaTable.for_path(spark, path)`` →
driver-side LogSegment listing → snapshot (distributed state
reconstruction) → ``scan(pred)`` → ``to_df()`` → Catalyst/Tungsten.

Write lifecycle (§3.2): ``write()``/``delete()``/``update()``/``merge()``
stage Parquet distributed, then commit through the optimistic transaction
protocol.

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
from .errors import DeltaError, DeltaProtocolError
from .expressions import Expression, bind
from .log import filenames as fn
from .bloom import bloom_config
from .log.actions import (AddFile, CommitInfo, DomainMetadata, Metadata,
                          Protocol, RemoveFile, SetTransaction, as_parsed)
from .log.logstore import LogStore, default_log_store, strip_scheme
from .log.segment import LogSegment, get_log_segment
from .log.snapshot import (Snapshot, addfiles_from_rows, canonical_path,
                            canonical_path_col, materialized_rt_cols,
                            read_commit, relativize)
from .localrel import local_rows_df
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
            import pyarrow.parquet as pq
            referenced = set()
            for name in self.store.list_from(self.log_path):
                if not fn.is_v2_checkpoint_file(name):
                    continue
                mpath = os.path.join(self.log_path, name)
                try:
                    if "sidecar" not in pq.read_schema(mpath).names:
                        continue
                    for row in pq.read_table(
                            mpath, columns=["sidecar"]).to_pylist():
                        sc = row.get("sidecar")
                        if sc and sc.get("path"):
                            referenced.add(sc["path"])
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
        # file counts, and the change rows. __ri is each row's physical
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
        dv_metrics = {"numDeletedRows": str(hits.count()),
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
            import pandas as pd
            from .shipping import ensure_shipped_by_value
            ensure_shipped_by_value()
            store = tgt_log.store

            def copy_files(batches):
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
            n_parts = min(len(copies),
                          self.spark.sparkContext.defaultParallelism)
            copied = (local_rows_df(self.spark, list(copies.items()),
                                    "path string, sidecar boolean",
                                    parts=n_parts)
                      .mapInPandas(copy_files, "n long")
                      .agg(F.sum("n")).collect()[0][0])
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


_ZORDER_BITS = 16


def _zorder_numeric(df: DataFrame, c: str) -> F.Column:
    """Order-preserving numeric rank of any Z-orderable column. Strings
    map to their first 7 UTF-8 bytes as a big-endian integer
    (zero-right-padded so shorter strings don't leapfrog longer ones —
    byte-wise order IS code-point order for UTF-8); dates route through
    timestamp; numerics/timestamps cast directly. 7 bytes keeps the
    value positive in a signed long and within double's exact-integer
    range up to the precision the bucketing needs."""
    dt = dict(df.dtypes)[c]
    if dt == "string":
        return F.conv(
            F.hex(F.rpad(F.encode(F.col(c), "UTF-8"), 7,
                         F.lit(b"\x00"))), 16, 10).cast("double")
    if dt == "date":
        return F.col(c).cast("timestamp").cast("double")
    return F.col(c).cast("double")


def _bucket_ids(df: DataFrame, cols: List[str],
                n_bits: int) -> List[F.Column]:
    """Equi-width bucket id (long, 0..2^n_bits-1) per clustering column
    (numeric, timestamp, date, or string — see _zorder_numeric). Bucket
    bounds come from one min/max aggregate (driver-side, 2 numbers per
    column). Nulls sort first (bucket 0)."""
    exprs = {c: _zorder_numeric(df, c) for c in cols}
    bounds = df.agg(
        *[F.min(exprs[c]).alias(f"_lo_{c}") for c in cols],
        *[F.max(exprs[c]).alias(f"_hi_{c}") for c in cols]).first()
    n_buckets = 1 << n_bits
    bucket_cols = []
    for c in cols:
        lo = float(bounds[f"_lo_{c}"] or 0.0)
        hi = float(bounds[f"_hi_{c}"] or 0.0)
        width = (hi - lo) or 1.0
        b = F.floor((exprs[c] - F.lit(lo)) /
                    F.lit(width) * n_buckets).cast("long")
        b = F.least(F.greatest(b, F.lit(0)), F.lit(n_buckets - 1))
        bucket_cols.append(F.coalesce(b, F.lit(0)))
    return bucket_cols


def _zorder_code(df: DataFrame, cols: List[str]) -> F.Column:
    """Morton code over equi-width bucket ids of the given columns;
    the interleave is a codegen'd bit expression."""
    bucket_cols = _bucket_ids(df, cols, _ZORDER_BITS)
    code = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(_ZORDER_BITS):
        for j, b in enumerate(bucket_cols):
            code = code + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                bit * k + j)
    return code


def _hilbert_index_col(bucket_cols: List[F.Column],
                       bits: int) -> F.Column:
    """Hilbert index (long) of d bucket-id Columns, ``bits`` bits each —
    Skilling's AxesToTranspose (AIP Conf. Proc. 707, 2004) as a pure
    Column expression, entirely JVM-side.

    The per-level rotation loop runs inside F.aggregate over the
    descending Q-value array: each level's state is an array<long>
    bound to a lambda variable, so re-referencing X[0] d times per
    level costs a NamedLambdaVariable leaf, not a copy of the whole
    subtree (an unrolled withColumn chain would re-inline and grow the
    tree exponentially after CollapseProject). Gray encode + the final
    bit interleave run in the aggregate's finish lambda for the same
    reason."""
    d = len(bucket_cols)

    def merge(acc, q):
        X = [F.element_at(acc, i + 1) for i in range(d)]
        P = q - F.lit(1).cast("long")
        for i in range(d):
            cond = X[i].bitwiseAND(q) != F.lit(0)
            if i == 0:
                # t = (X[0]^X[0]) & P == 0: the else branch is a no-op
                X[0] = F.when(cond, X[0].bitwiseXOR(P)).otherwise(X[0])
                continue
            t = X[0].bitwiseXOR(X[i]).bitwiseAND(P)
            x0 = F.when(cond, X[0].bitwiseXOR(P)) \
                .otherwise(X[0].bitwiseXOR(t))
            xi = F.when(cond, X[i]).otherwise(X[i].bitwiseXOR(t))
            X[0], X[i] = x0, xi
        return F.array(*X)

    def finish(acc):
        X = [F.element_at(acc, i + 1) for i in range(d)]
        for i in range(1, d):                  # Gray encode (prefix ^)
            X[i] = X[i].bitwiseXOR(X[i - 1])
        # t = XOR over e>0 of (2^e - 1 when bit e of X[d-1] is set).
        # Closed form per output bit j: parity of X[d-1] >> (j+1) —
        # expressed with bit_count so the tree is LINEAR in bits (the
        # literal when-chain re-embeds t twice per level → 2^bits
        # nodes; it OOMed analysis at 16 bits).
        t = F.lit(0).cast("long")
        for j in range(bits - 1):
            par = F.bit_count(F.shiftright(X[d - 1], j + 1)) \
                .cast("long").bitwiseAND(F.lit(1))
            t = t + F.shiftleft(par, j)
        X = [x.bitwiseXOR(t) for x in X]
        h = F.lit(0).cast("long")
        for p in range(bits - 1, -1, -1):      # transpose → index
            for i in range(d):
                h = F.shiftleft(h, 1) \
                    + F.shiftright(X[i], p).bitwiseAND(F.lit(1))
        return h

    init = F.array(*[b.cast("long") for b in bucket_cols])
    qs = F.array(*[F.lit(1 << e).cast("long")
                   for e in range(bits - 1, 0, -1)])
    return F.aggregate(qs, init, merge, finish)


def _hilbert_index_np(X, bits: int):
    """Vectorized Skilling AxesToTranspose over a (d, n) int64 bucket
    array → (n,) int64 Hilbert indices. Identical ints to
    _hilbert_index_col / the tests' Python reference — the loops here
    run over LEVELS and DIMENSIONS only; every per-row operation is a
    whole-array numpy bit op."""
    import numpy as np
    d = X.shape[0]
    X = X.astype(np.int64, copy=True)
    Q = np.int64(1) << (bits - 1)
    while Q > 1:
        P = Q - 1
        for i in range(d):
            x0, xi = X[0], X[i]
            mask = (xi & Q) != 0
            if i == 0:
                X[0] = np.where(mask, x0 ^ P, x0)
                continue
            t = (x0 ^ xi) & P
            X[0] = np.where(mask, x0 ^ P, x0 ^ t)
            X[i] = np.where(mask, xi, xi ^ t)
        Q >>= 1
    for i in range(1, d):                      # Gray encode (prefix ^)
        X[i] ^= X[i - 1]
    t = np.zeros_like(X[0])
    Q = np.int64(1) << (bits - 1)
    while Q > 1:
        t = np.where((X[d - 1] & Q) != 0, t ^ (Q - 1), t)
        Q >>= 1
    X ^= t
    h = np.zeros_like(X[0])
    for p in range(bits - 1, -1, -1):          # bit interleave
        for i in range(d):
            h = (h << 1) | ((X[i] >> np.int64(p)) & 1)
    return h


def _hilbert_code(df: DataFrame, cols: List[str]) -> F.Column:
    """Hilbert-curve cluster code over equi-width bucket ids — the
    same bucketing as Z-order but walked along the Hilbert curve.

    Why offer both: Morton order has quadrant-boundary jumps (the code
    teleports across the key space every power-of-two boundary), so a
    contiguous code range — one output file — can cover two far-apart
    rectangles and its min/max stats widen on every clustered column.
    The Hilbert curve is a unit-step Hamiltonian path over the bucket
    grid (adjacent codes are adjacent cells), so equal-size code
    ranges cover tighter hyper-rectangles: measurably better per-file
    min/max selectivity at the same rewrite cost — the reason
    Databricks liquid clustering walks Hilbert, not Morton. Bits per
    dimension shrink with d so the index stays in a signed long.

    Hot path is an Arrow-batched pandas_udf over the vectorized
    Skilling transform (_hilbert_index_np): the pure-Column form
    (_hilbert_index_col, kept for parity tests) expresses the level
    loop as a higher-order F.aggregate, which Spark evaluates
    INTERPRETED per row — the sf1 sweep measured the Hilbert rewrite
    at 339 s vs <12 s for the codegen'd Morton interleave. The numpy
    form computes identical ints (equality pinned against both the
    Column form and the Skilling reference) with level/dimension loops
    only — every per-row op is a whole-batch bit op."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .shipping import ensure_shipped_by_value
    ensure_shipped_by_value()
    bits = min(_ZORDER_BITS, 63 // max(len(cols), 1))

    def _hidx(*xs):
        import numpy as np
        X = np.stack([x.to_numpy(dtype=np.int64) for x in xs])
        return pd.Series(_hilbert_index_np(X, bits))

    # functional form (no type hints): the decorator's hint inference
    # rejects *args signatures
    hidx = pandas_udf(_hidx, "long")
    return hidx(*_bucket_ids(df, cols, bits))


def _protected_paths(snap: Snapshot, horizon: int) -> DataFrame:
    """The paths VACUUM must keep, as one local relation of one ``__p``
    column: active files, their deletion-vector sidecars, and the
    tombstones still inside the retention window with their sidecars.
    The tombstone legs are the contract VACUUM must honour
    (InMemoryLogReplay.scala:90-92, DeltaConfig.scala:219-225): a file
    DELETE'd yesterday has an OLD mtime but its tombstone is young —
    reclaiming it would strand time travel to every version of the
    retention window. Protection keys on deletionTimestamp, never
    mtime."""
    from .dv import DV_TAG
    keep = set()
    for rows in (snap._files_rows, snap.retained_tombstone_rows(horizon)):
        for r in rows:
            keep.add(r["path"])
            dv = (r["tags"] or {}).get(DV_TAG)
            if dv:
                keep.add(canonical_path(dv, snap.table_path))
    rel = local_rows_df(snap.spark, [(p,) for p in keep], "__p string")
    # Spark cannot size a driver-built relation, so it would shuffle both
    # join sides; its own broadcast threshold applies to the known size
    limit = snap.spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    return F.broadcast(rel) if sum(map(len, keep)) <= limit else rel


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
    from .log import filenames as fn
    from .log.actions import (AddCDCFile, AddFile, CommitInfo,
                              DomainMetadata, Metadata, Protocol,
                              RemoveFile, SetTransaction, from_json_line,
                              to_json_line)
    from .log.logstore import FileAlreadyExistsError
    per_path: Dict[str, Any] = {}
    meta = proto = None
    txns: Dict[str, Any] = {}
    domains: Dict[str, Any] = {}
    n_in = 0
    for v in range(start, end + 1):
        for line in log.store.read(fn.delta_file(log.log_path, v)):
            a = from_json_line(line)
            if a is None or isinstance(a, (CommitInfo, AddCDCFile)):
                continue
            n_in += 1
            if isinstance(a, AddFile) or isinstance(a, RemoveFile):
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


def _rewrite_files(table: DeltaTable, txn, operation: str,
                   params: Dict[str, str], victims: List[AddFile],
                   df: DataFrame, actions: Sequence[Any] = ()
                   ) -> Tuple[int, int]:
    """Commit ``df`` — the rows of ``victims``, with their row ids under
    row tracking — in place of ``victims`` as a layout-only
    (dataChange=false) rewrite. Returns (version, files added)."""
    recorded: Dict[str, str] = {}

    def metrics(adds):
        recorded.update(numRemovedFiles=str(len(victims)),
                        numAddedFiles=str(len(adds)))
        return recorded

    version = table._commit_legs(txn, operation, params, victims, kept=df,
                                 actions=actions, data_change=False,
                                 metrics=metrics)
    return version, int(recorded["numAddedFiles"])


class TableMaintenance:
    """OPTIMIZE (small-file bin-packing) and VACUUM (physical removal of
    unreferenced files) — the operational pair that keeps a 100 TB table
    healthy: streaming sinks produce one file per partition per batch,
    compaction folds them back into scan-efficient ~128 MB files, and
    vacuum reclaims the space the rewrites (and DML) tombstoned.

    OPTIMIZE commits with dataChange=False on both adds and removes, so
    change feeds (ST3 validation filters on dataChange) skip compaction
    commits and SnapshotIsolation suffices — matching how the reference
    distinguishes data- from file-layout transactions
    (isolationLevels.scala:19-25, actions.scala:109-132 dataChange).
    """

    def __init__(self, table: DeltaTable):
        self.table = table

    def optimize(self, target_file_size: int = 128 * 1024 * 1024,
                 min_files_per_group: int = 2,
                 zorder_by: Optional[List[str]] = None,
                 hilbert_by: Optional[List[str]] = None,
                 max_actions_per_commit: int = 100_000,
                 where: Optional[Expression] = None) -> Dict[str, int]:
        """Bin-pack files smaller than ``target_file_size``, grouped by
        partition tuple. With ``zorder_by``, ALL files are rewritten
        Z-order-clustered on the given numeric columns instead: rows are
        range-partitioned and sorted by a Morton (bit-interleaved) code
        over equi-width bucket ids, so each output file covers a compact
        hyper-rectangle and per-file min/max stats become selective on
        EVERY clustered column — stats-based skipping (scan.py) then
        prunes on any of them, the multi-column layout the reference
        carries stats for but never exploits (actions.scala:116-117).
        ``hilbert_by`` clusters along the Hilbert curve instead of
        Morton (see _hilbert_code for why that tightens per-file
        min/max at the same rewrite cost).

        ``max_actions_per_commit`` bounds the WIDTH of each commit: a
        full-table compaction over millions of small files must not
        funnel every AddFile/RemoveFile into one driver list and one
        giant commit JSON. Work is split into batches of whole
        partition groups (an oversized group is itself split for
        bin-packing; a clustered group stays atomic so its curve
        ordering is never torn) and each batch commits separately —
        ``dataChange=False`` keeps change feeds quiet, and each batch
        conflict-checks like any OPTIMIZE (concurrent-safety matrix in
        tests/test_concurrency.py). A reader between batches sees a
        partially-compacted but always-correct table. Returns
        {filesRemoved, filesAdded, version (last)}."""
        if zorder_by and hilbert_by:
            raise DeltaError("zorder_by and hilbert_by are mutually "
                             "exclusive")
        cluster_by = zorder_by or hilbert_by
        t = self.table
        txn = t.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        pcols = snap.metadata.partitionColumns
        if where is not None:
            # OPTIMIZE ... WHERE (delta-spark OptimizeTableCommand's
            # partitionPredicate): partition-column predicates only —
            # a data-column predicate can't select whole files and
            # would silently degrade to full-table, so refuse instead.
            where = bind(where, snap.metadata.schema)
            extra = where.references() - set(pcols)
            if extra:
                raise DeltaError(
                    f"optimize WHERE may only reference partition "
                    f"columns {sorted(pcols)}; got {sorted(extra)}")
        # the WHERE scope's files; only the bin-packable ones unless
        # clustering, which rewrites the whole scope
        cand = snap._files_rows if where is None \
            else DeltaScan(snap, where).rows
        if cluster_by is None:
            cand = _small_files(cand, target_file_size)
        groups: Dict[Tuple, List[Any]] = {}
        for f in addfiles_from_rows(cand):
            key = tuple((c, (f.partitionValues or {}).get(c)) for c in pcols)
            groups.setdefault(key, []).append(f)
        min_group = 1 if cluster_by else min_files_per_group
        work = [fs for fs in groups.values() if len(fs) >= min_group]
        if not work:
            return {"filesRemoved": 0, "filesAdded": 0,
                    "version": snap.version}

        def est(fs):
            # commit width upper bound: removes + projected adds
            return len(fs) + max(1, -(-sum(f.size for f in fs)
                                      // target_file_size))

        units: List[List[Any]] = []
        for fs in work:
            if cluster_by is None and est(fs) > max_actions_per_commit:
                # oversized bin-pack group: split (still per-partition);
                # a tail chunk below min_files_per_group would be a
                # pointless 1-to-1 rewrite, so it folds into the
                # previous chunk instead
                step = max(min_files_per_group,
                           max_actions_per_commit // 2)
                chunks = [fs[i:i + step]
                          for i in range(0, len(fs), step)]
                if len(chunks) > 1 and len(chunks[-1]) < min_files_per_group:
                    chunks[-2].extend(chunks.pop())
                units.extend(chunks)
            else:
                units.append(fs)
        batches: List[List[Any]] = []
        cur: List[Any] = []
        cur_n = 0
        for u in units:
            if cur and cur_n + est(u) > max_actions_per_commit:
                batches.append(cur)
                cur, cur_n = [], 0
            cur.extend(u)
            cur_n += est(u)
        if cur:
            batches.append(cur)

        params = {"targetSize": str(target_file_size)}
        if zorder_by:
            params["zOrderBy"] = ",".join(zorder_by)
        if hilbert_by:
            params["clusterBy"] = ",".join(hilbert_by)
            params["curve"] = "hilbert"
        n_removed = n_added = 0
        version = snap.version
        for bi, victims in enumerate(batches):
            if bi > 0:
                # fresh txn per batch: its snapshot includes the prior
                # batch's commit, so each batch conflict-checks against
                # the current state like an independent OPTIMIZE
                txn = t.log.start_transaction()
                snap = txn.snapshot
            cand_paths = {f.path for f in victims}
            subset = [r for r in snap._files_rows
                      if r["path"] in cand_paths]
            if bi > 0:
                # victims were computed from the ORIGINAL snapshot; a
                # concurrent commit that removed one BEFORE this batch's
                # fresh txn started is not a "winning commit", so the
                # J4 delete/delete check would never fire and we'd
                # commit a duplicate RemoveFile (double-decrementing the
                # incremental .crc chain). Intersect with the fresh
                # snapshot's live files — `subset` rows ARE that
                # intersection, bounded by the batch width.
                live = {r["path"] for r in subset}
                victims = [f for f in victims if f.path in live]
                if not victims:
                    continue
            rt = TableConfig(
                snap.metadata.configuration).enable_row_tracking
            df = snap.to_df(files=subset, with_row_ids=rt)
            total = sum(f.size for f in victims)
            n_out = max(1, -(-total // target_file_size))
            if cluster_by:
                code = (_zorder_code(df, zorder_by) if zorder_by
                        else _hilbert_code(df, hilbert_by))
                df = df.withColumn("_z", code)
                df = (df.repartitionByRange(n_out, F.col("_z"))
                      .sortWithinPartitions("_z").drop("_z"))
            else:
                df = df.repartition(n_out)
            # record the clustering layout as table state (the
            # delta.clustering metadata domain delta-spark's liquid
            # clustering writes): readers and later OPTIMIZE runs can
            # discover WHICH columns the files are clustered on without
            # scanning history
            layout = [DomainMetadata(
                "delta.clustering",
                json.dumps({"clusteringColumns": list(cluster_by),
                            "curve": "hilbert" if hilbert_by
                            else "zorder"}, separators=(",", ":")))] \
                if cluster_by else []
            version, added = _rewrite_files(
                t, txn, "OPTIMIZE",
                dict(params, batch=f"{bi + 1}/{len(batches)}")
                if len(batches) > 1 else params, victims, df, layout)
            n_removed += len(victims)
            n_added += added
        return {"filesRemoved": n_removed, "filesAdded": n_added,
                "version": version}

    def reorg_purge(self) -> Dict[str, int]:
        """REORG TABLE ... APPLY (PURGE): rewrite exactly the files
        carrying deletion vectors, materializing their surviving rows
        and dropping the sidecar references; DV-free files are not
        touched. Rewrites are ``dataChange=False`` like OPTIMIZE — the
        logical table is unchanged, so change feeds skip them — and
        once the soft-deleted adds age past retention, VACUUM reclaims
        both the old data files and the now-unreferenced sidecars.

        Scale shape: read + write cost is proportional to the
        DV-carrying files only (the normal case after a row-level
        delete wave is a small fraction of the table); the survivors
        scan is the same pruned DV anti-join plan as any read, and the
        commit is one transaction that conflict-checks like any other
        writer. Returns {filesPurged, filesAdded, version}."""
        from .dv import DV_TAG
        t = self.table
        txn = t.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        victims = [f for f in snap.all_files()
                   if (f.tags or {}).get(DV_TAG)]
        if not victims:
            return {"filesPurged": 0, "filesAdded": 0,
                    "version": snap.version}
        cand_paths = {f.path for f in victims}
        subset = [r for r in snap._files_rows
                  if r["path"] in cand_paths]
        # the DV anti-join applies here
        df = snap.to_df(files=subset, with_row_ids=TableConfig(
            snap.metadata.configuration).enable_row_tracking)
        version, added = _rewrite_files(
            t, txn, "REORG", {"applyPurge": "true"}, victims, df)
        return {"filesPurged": len(victims), "filesAdded": added,
                "version": version}

    def restore(self, version: Optional[int] = None,
                timestamp_ms: Optional[int] = None) -> Dict[str, int]:
        """RESTORE the table to an earlier version (or the version active
        at a timestamp) as a NEW commit: the file-set diff between the
        current and target snapshots becomes add/remove actions, and the
        target's Metadata is re-committed when it differs (undoing schema
        or config changes). History is preserved -- time travel still
        reaches every version, and the restore itself is just another
        commit that conflict-checks like any other writer.

        Fails if any file the target snapshot needs has been VACUUMed.
        Returns {filesAdded, filesRemoved, version}.
        """
        t = self.table
        txn = t.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        target = t._resolve(version, timestamp_ms)
        if target.version == snap.version:
            return {"filesAdded": 0, "filesRemoved": 0,
                    "version": snap.version}
        txn.read_whole_table()

        from .dv import DV_TAG
        # The file-set diff, keyed by canonical path on the driver. A
        # path present in both snapshots is re-added when its deletion
        # vector differs (the DV lives in tags, not the path); the
        # replaced entry is removed in the same commit, so the file
        # count and the change feed see one file, not two.
        cur = {r["path"]: r for r in snap._files_rows}
        want = {r["path"]: r for r in target._files_rows}

        def dv(r):
            return (r["tags"] or {}).get(DV_TAG)
        add_rows = [r for p, r in want.items()
                    if p not in cur or dv(cur[p]) != dv(r)]
        remove_rows = [r for p, r in cur.items()
                       if p not in want or dv(want[p]) != dv(r)]

        root = t.path
        local_root = root[len("file:"):] if root.startswith("file:") else root
        # Existence check for every file (and DV sidecar) the target
        # needs, distributed through the store — the driver sees only
        # the missing list (the error report).
        import pandas as pd
        from .shipping import ensure_shipped_by_value
        ensure_shipped_by_value()
        store = t.log.store
        needed = list(want) + [canonical_path(dv(r), snap.table_path)
                               for r in want.values() if dv(r)]

        def find_missing(batches):
            for pdf in batches:
                gone = [p for p in pdf["path"]
                        if not store.exists(os.path.join(local_root, p))]
                yield pd.DataFrame({"path": gone})

        missing = [r["path"] for r in
                   local_rows_df(t.spark, [(p,) for p in needed],
                                 "path string")
                   .mapInPandas(find_missing, "path string")
                   .limit(100).collect()] if needed else []
        if missing:
            raise DeltaError(
                f"cannot restore to version {target.version}: "
                f"data file(s) were removed by VACUUM "
                f"(first: {sorted(missing)[0]})")

        if target.metadata.schemaString != snap.metadata.schemaString \
                or target.metadata.configuration \
                != snap.metadata.configuration \
                or target.metadata.partitionColumns \
                != snap.metadata.partitionColumns:
            txn.update_metadata(target.metadata, overwrite_schema=True)
        # Re-added files are a data change even if their original
        # commit was a dataChange=false layout rewrite (OPTIMIZE).
        import dataclasses
        now = int(time.time() * 1000)
        ver = txn.commit(
            [dataclasses.replace(f, dataChange=True)
             for f in addfiles_from_rows(add_rows)]
            + [f.remove(now) for f in addfiles_from_rows(remove_rows)],
            "RESTORE", {"version": str(target.version)},
            operation_metrics={"numRestoredFiles": str(len(add_rows)),
                               "numRemovedFiles": str(len(remove_rows))})
        return {"filesAdded": len(add_rows), "filesRemoved": len(remove_rows),
                "version": ver}

    def compute_stats(self) -> Dict[str, int]:
        """ANALYZE-style stats backfill: re-commit every active file
        that lacks ``stats`` with exact footer statistics attached
        (dataChange=False add replacing the stats-less add — readers
        see identical data; change feeds skip it like OPTIMIZE). Files
        written by engines that don't record Delta stats regain file
        skipping and the metadata-only aggregate fast path.

        Scale shape: the footer reads run as one mapInPandas over the
        stats-less file list (never a per-file driver loop); the driver
        collects only the action fields; commit is one transaction that
        conflict-checks like any other writer. Returns
        {filesUpdated, version} (version -1 when nothing lacked stats)."""
        import pandas as pd

        from .shipping import ensure_shipped_by_value
        from .writer import file_stats_json
        t = self.table
        spark = t.log.spark
        txn = t.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        missing = [f for f in snap.all_files() if not f.stats]
        if not missing:
            return {"filesUpdated": 0, "version": -1}
        ensure_shipped_by_value()

        def footer_pass(batches):
            for pdf in batches:
                rows = []
                for path in pdf["path"]:
                    stats, _n = file_stats_json(path)
                    rows.append((path, stats, os.path.getsize(path)))
                yield pd.DataFrame(rows,
                                   columns=["path", "stats", "size"])

        par = min(len(missing),
                  spark.sparkContext.defaultParallelism) or 1
        stat_rows = {r["path"]: r for r in
                     (local_rows_df(
                         spark, [(f.path,) for f in missing],
                         "path string", parts=par)
                      .mapInPandas(footer_pass,
                                   "path string, stats string, size long")
                      .collect())}
        import dataclasses
        now = int(time.time() * 1000)
        adds = [dataclasses.replace(
            f, stats=stat_rows[f.path]["stats"],
            size=int(stat_rows[f.path]["size"]), dataChange=False)
            for f in missing]
        # Pair each in-place re-add with a dataChange=False remove of
        # the OLD entry: replay is unaffected (same-version add beats
        # remove in the window dedup, and removes precede adds in line
        # order for the sequential folds), but the version-checksum
        # chain now folds exactly (−old size, +new size) instead of
        # inflating numFiles on every stats backfill.
        removes = [f.remove(now, data_change=False) for f in missing]
        version = txn.commit(
            removes + adds, "COMPUTE STATS",
            operation_metrics={"numFilesUpdated": str(len(adds))})
        return {"filesUpdated": len(adds), "version": version}

    def compact_log(self, start: Optional[int] = None,
                    end: Optional[int] = None) -> Dict[str, int]:
        """Minor log compaction: write ``<start>.<end>.compacted.json``
        carrying the NET actions of commits [start, end] (default: the
        whole post-checkpoint tail). Snapshot replay then reads ONE
        file instead of the range — the delta-spark log-compaction
        shape, for logs whose checkpoint interval leaves long tails.

        Semantics (what "net" keeps):
        - per path, the LAST add/remove wins; a net remove is RETAINED
          as a tombstone (vacuum still needs it);
        - the latest Metadata and Protocol of the range;
        - the latest SetTransaction per appId;
        - CommitInfo and cdc actions are dropped — they are
          per-version artifacts, and per-version consumers (history,
          CDF, streaming, time travel) keep reading the RAW delta
          files, which compaction never deletes.

        Driver cost: O(range) small file reads + O(net actions) JSON —
        the same budget as the P&M tail replay. Best-effort publish:
        two racing compactors of the same range write identical
        content, and losing the put-if-absent race is a no-op."""
        snap = self.table.snapshot()
        log = self.table.log
        if end is None:
            end = snap.version
        if start is None:
            start = (snap.segment.checkpoint_version + 1
                     if snap.segment.checkpoint_version is not None
                     else 0)
        if not 0 <= start <= end <= snap.version:
            raise ValueError(f"bad compaction range [{start}, {end}]")
        return _compact_log_range(log, snap.table_path, start, end)

    def compute_checksum(self) -> Dict[str, int]:
        """Bootstrap (or repair) the version-checksum chain: sum the
        CURRENT snapshot's file rows once (numFiles, total bytes — no
        Spark job, never per-commit) and publish ``<version>.crc``. Every later commit then extends the chain
        incrementally at zero job cost (txn._write_version_checksum).
        Use on pre-feature tables or after a chain break (a remove
        without size info)."""
        from .log import checksum as cks
        snap = self.table.snapshot()
        summary = snap.state_summary()
        crc = cks.VersionChecksum(
            tableSizeBytes=summary["sizeInBytes"],
            numFiles=summary["numOfFiles"],
            protocol=snap.protocol, metadata=snap.metadata,
            domainMetadata=[DomainMetadata(k, v) for k, v in
                            sorted(snap.domain_metadata.items())])
        cks.write_checksum(snap.store, self.table.log.log_path,
                           snap.version, crc)
        # fresh anchor: incremental writing may resume
        self.table.log._crc_chain_broken = False
        return {"version": snap.version, "numFiles": crc.numFiles,
                "tableSizeBytes": crc.tableSizeBytes}

    def verify_checksum(self) -> Dict[str, Any]:
        """Integrity check (FSCK's log-side twin): sum the live
        snapshot's file rows and compare against the writer's ``.crc``
        record at the same version. Raises DeltaError on mismatch — a
        lost delta file, truncated checkpoint or corrupted action
        surfaces loudly instead of as silently wrong aggregates.
        Returns the compared numbers when they agree (or when no
        checksum exists — nothing to verify against)."""
        from .log import checksum as cks
        snap = self.table.snapshot()
        crc = cks.read_checksum(snap.store, self.table.log.log_path,
                                snap.version)
        summary = snap.state_summary()
        out = {"version": snap.version, "checksum_present": crc is not None,
               "numFiles": summary["numOfFiles"],
               "tableSizeBytes": summary["sizeInBytes"]}
        if crc is None:
            return out
        problems = []
        if crc.numFiles != out["numFiles"]:
            problems.append(f"numFiles: crc={crc.numFiles} "
                            f"live={out['numFiles']}")
        if crc.tableSizeBytes != out["tableSizeBytes"]:
            problems.append(f"tableSizeBytes: crc={crc.tableSizeBytes} "
                            f"live={out['tableSizeBytes']}")
        if crc.metadataId is not None \
                and crc.metadataId != snap.metadata.id:
            problems.append(f"metadataId: crc={crc.metadataId} "
                            f"live={snap.metadata.id}")
        if crc.protocol is not None and (
                crc.protocol.minReaderVersion
                != snap.protocol.minReaderVersion
                or crc.protocol.minWriterVersion
                != snap.protocol.minWriterVersion):
            problems.append("protocol mismatch")
        if crc.domainMetadata is not None:
            # live-domain state (incl. the delta.rowTracking watermark)
            # must replay to exactly what the writer recorded
            rec = {dm.domain: dm.configuration
                   for dm in crc.domainMetadata}
            live = dict(snap.domain_metadata)
            if rec != live:
                problems.append(
                    f"domainMetadata: crc has {sorted(rec)} "
                    f"live has {sorted(live)} (or configs differ)")
        if problems:
            raise DeltaError(
                f"version checksum mismatch at v{snap.version}: "
                + "; ".join(problems))
        return out

    def fsck_repair(self, dry_run: bool = False) -> List[str]:
        """FSCK REPAIR TABLE: drop AddFile entries whose physical data
        file no longer exists (external deletion, botched restore of a
        bucket, retention mishap) so reads stop failing on the missing
        file. One commit of RemoveFiles for exactly the missing paths;
        the conflict checker treats it like any delete. Returns the
        repaired (or would-repair, under dry_run) table-relative
        paths — delta-spark's FSCK REPAIR TABLE semantics.

        Scale shape: the existence probe fans the file inventory out
        through the same distributed publish machinery as a write
        (mapInPandas over paths; the driver only collects the MISSING
        subset, normally empty or tiny)."""
        import pandas as pd
        from pyspark.sql import types as T2

        from .shipping import ensure_shipped_by_value
        t = self.table
        spark = t.log.spark
        store = t.log.store
        txn = t.log.start_transaction()
        snap = txn.snapshot
        if snap is None:
            raise FileNotFoundError("table does not exist")
        files = [(f.path,) for f in snap.all_files()]
        if not files:
            return []
        ensure_shipped_by_value()

        def probe(batches):
            for pdf in batches:
                missing = [(p,) for p in pdf["path"]
                           if not store.exists(p)]
                yield pd.DataFrame(missing or None,
                                   columns=["path"])

        n_parts = min(len(files),
                      spark.sparkContext.defaultParallelism) or 1
        missing = [r["path"] for r in
                   local_rows_df(spark, files, "path string",
                                 parts=n_parts)
                   .mapInPandas(probe, T2.StructType(
                       [T2.StructField("path", T2.StringType())]))
                   .collect()]
        if dry_run or not missing:
            return sorted(missing)
        by_path = {f.path: f for f in snap.all_files()}
        now = int(time.time() * 1000)
        removes = [by_path[p].remove(now) for p in missing]
        txn.commit(removes, "FSCK",
                   operation_metrics={"numRemovedFiles":
                                      str(len(removes))})
        return sorted(missing)

    def vacuum(self, retention_ms: Optional[int] = None,
               dry_run: bool = False, lite: bool = False) -> List[str]:
        """Delete data files that are neither active nor within the
        tombstone retention window (default: the table's
        delta.deletedFileRetentionDuration, 1 week —
        DeltaConfig.scala:219-225). Returns deleted (or would-delete)
        paths relative to the table root.

        ``lite=True`` (delta-spark's VACUUM LITE): derive the doomed
        set from the LOG's RemoveFile tombstones instead of listing
        the table tree — at 100 TB a full recursive listing is
        O(objects) against the object store, while the log window
        since the last LITE run is O(commits). Refuses loudly when the
        log cannot prove coverage (a delta file in the window was
        cleaned) — fall back to a full vacuum then."""
        t = self.table
        spark = t.log.spark
        store = t.log.store
        snap = t.log.update() or t.snapshot()
        # vacuumProtocolCheck (Delta protocol feature): VACUUM must run
        # the full WRITER protocol gate before deleting anything — a
        # client that can't honour the table's writer features could
        # otherwise reclaim files a feature it doesn't understand still
        # needs (the spec's motivating example: managed commits). The
        # check is unconditional here (it is cheap); the FEATURE's role
        # is forcing the same behavior on foreign clients via the
        # reader/writer version bump.
        from .log.features import assert_writable
        try:
            assert_writable(snap.protocol, t.path)
        except ValueError as e:
            raise DeltaProtocolError(f"VACUUM refused: {e}")
        if retention_ms is None:
            retention_ms = TableConfig(
                snap.metadata.configuration).tombstone_retention_ms
        horizon = int(time.time() * 1000) - retention_ms
        if lite:
            return self._vacuum_lite(snap, horizon, dry_run)
        root = t.path
        local_root = root[len("file:"):] if root.startswith("file:") else root

        # Distributed reclaim (the reference-Spark VACUUM shape): the
        # table subtree is LISTED in parallel (one task per top-level
        # child — the partition-dir fan-out), candidates anti-join the
        # active file inventory as DataFrames (never a driver-side set
        # of all files), and deletes run on executors. The driver holds
        # only the doomed list — the report the API returns.
        import pandas as pd
        from .shipping import ensure_shipped_by_value
        ensure_shipped_by_value()

        # every child subtree except the log itself — _change_data /
        # _deletion_vectors dirs hold reclaimable files. Concurrent
        # writers' in-flight _staging_* dirs are excluded entirely:
        # staged files are seconds old, never past the retention
        # horizon, and their publish rename would race the listing.
        seeds = [""] + [n for n in store.list_dir(local_root)
                        if n != "_delta_log" and not n.startswith(".")
                        and not n.startswith("_staging")
                        and store.is_dir(os.path.join(local_root, n))]

        def list_subtree(batches):
            def stat_or_skip(path):
                # A file can vanish between listing and stat (a
                # concurrent commit publishing/renaming staged files);
                # a vanished file is by definition not vacuumable.
                try:
                    return store.stat(path)
                except FileNotFoundError:
                    return None
            for pdf in batches:
                rels, mts = [], []
                for seed in pdf["seed"]:
                    if seed == "":
                        for n in store.list_dir(local_root):
                            full = os.path.join(local_root, n)
                            if n.startswith(("_", ".")) or store.is_dir(full):
                                continue
                            st = stat_or_skip(full)
                            if st is None:
                                continue
                            rels.append(n)
                            mts.append(st[1])
                    else:
                        base = os.path.join(local_root, seed)
                        for rel in store.list_files_recursive(base):
                            if os.path.basename(rel).startswith(("_", ".")):
                                continue
                            st = stat_or_skip(os.path.join(base, rel))
                            if st is None:
                                continue
                            rels.append(os.path.join(seed, rel))
                            mts.append(st[1])
                yield pd.DataFrame({"rel": rels, "mtime": mts})

        n_seed_parts = min(len(seeds),
                           spark.sparkContext.defaultParallelism) or 1
        listing = (local_rows_df(spark, [(s,) for s in seeds],
                                 "seed string", parts=n_seed_parts)
                   .mapInPandas(list_subtree, "rel string, mtime long"))

        active = _protected_paths(snap, horizon)

        # The anti-join broadcasts the protected set under Spark's
        # threshold (_protected_paths); a multi-million-file inventory
        # takes a shuffled anti-join instead — both sides are
        # metadata-sized, so that is fine at the tail.
        cand = (listing
                .withColumn("__p", F.concat(F.lit(local_root + "/"),
                                            F.col("rel")))
                .where(F.col("mtime") <= F.lit(horizon))
                .join(active, "__p", "left_anti"))

        if dry_run:
            doomed = [r["rel"] for r in cand.select("rel").collect()]
        else:
            def delete_files(batches):
                for pdf in batches:
                    done = []
                    for rel in pdf["rel"]:
                        try:
                            store.delete(os.path.join(local_root, rel))
                        except FileNotFoundError:
                            pass      # task retry: already deleted
                        done.append(rel)
                    yield pd.DataFrame({"rel": done})

            doomed = [r["rel"] for r in
                      cand.select("rel").mapInPandas(
                          delete_files, "rel string").collect()]
            # prune now-empty partition dirs (bounded by dir count); a
            # concurrent writer's _staging_* tree is skipped, as in the
            # listing: its empty task dirs are still in use
            for dirpath, dirs, files in os.walk(local_root, topdown=False):
                if "_delta_log" in dirpath or dirpath == local_root \
                        or os.path.relpath(dirpath, local_root) \
                        .startswith("_staging"):
                    continue
                if not dirs and not files:
                    try:
                        os.rmdir(dirpath)
                    except OSError:
                        pass
        return sorted(doomed)

    def _vacuum_lite(self, snap, horizon: int,
                     dry_run: bool) -> List[str]:
        """Log-inventory vacuum: the doomed set is the RemoveFile
        tombstones in the commit window since the last LITE run (or
        version 0), aged past ``horizon`` and not re-added since —
        ZERO listing of the data tree. Coverage is proven before
        anything is deleted: every delta file in the window must still
        exist; a cleaned window (W8 log cleanup passed through it)
        raises instead of silently missing tombstones. Deletes run
        executor-side (mapInPandas over the candidate paths, vanished
        files skipped); a marker commit (operation VACUUM LITE END,
        lastVacuumedVersion) bounds the NEXT run's window to the new
        tail, so steady-state cost is O(commits between vacuums)
        regardless of table size."""
        import pandas as pd

        from .log import filenames as fn2
        from .log.actions import SINGLE_ACTION_SCHEMA
        from .shipping import ensure_shipped_by_value
        ensure_shipped_by_value()
        t = self.table
        spark = t.log.spark
        store = t.log.store
        log_path = t.log.log_path
        head = snap.version
        root = t.path
        local_root = root[len("file:"):] if root.startswith("file:") \
            else root

        marker = None
        for h in t.history():               # newest-first
            if h["operation"] == "VACUUM LITE END":
                marker = int((h["operationParameters"] or {})
                             .get("lastVacuumedVersion", h["version"]))
                break
        start = marker + 1 if marker is not None else 0
        have = sorted(fn2.delta_version(n)
                      for n in store.list_from(log_path)
                      if fn2.is_delta_file(n))
        window = [v for v in have if start <= v <= head]
        if window != list(range(start, head + 1)):
            missing = sorted(set(range(start, head + 1)) - set(window))
            raise DeltaError(
                f"VACUUM LITE cannot prove coverage: log versions "
                f"{missing[:5]}{'...' if len(missing) > 5 else ''} in "
                f"window [{start}, {head}] were cleaned; run a full "
                f"vacuum (lite=False) instead")
        if not window:
            return []

        from .dv import DV_TAG
        acts = spark.read.json(
            [fn2.delta_file(log_path, v) for v in window],
            schema=SINGLE_ACTION_SCHEMA)
        removes = (acts.where(F.col("remove.path").isNotNull())
                   .select(canonical_path_col("remove.path",
                                              snap.table_path)
                           .alias("__p"),
                           F.coalesce(F.col("remove.deletionTimestamp"),
                                      F.lit(0)).alias("__ts"),
                           F.col("remove.tags").getItem(DV_TAG)
                           .alias("__dv"),
                           F.regexp_extract(F.input_file_name(),
                                            r"(\d+)\.json$", 1)
                           .cast("long").alias("__v")))
        # Retention is decided per PATH on the YOUNGEST tombstone, not
        # per remove row: a path removed, RESTORE-re-added and removed
        # again has two tombstones, and the young one guards the file
        # for time travel even when the old one is past the horizon
        # (InMemoryLogReplay.scala:90-92 keeps latest-per-path).
        doomed_paths = (removes.groupBy("__p")
                        .agg(F.max("__ts").alias("__max_ts"))
                        .where(F.col("__max_ts") <= F.lit(horizon))
                        .select("__p"))
        # tombstoned DV sidecars ride along (same rule as full vacuum)
        dvs = (removes.join(doomed_paths, "__p", "semi")
               .where(F.col("__dv").isNotNull())
               .select(canonical_path_col("__dv", snap.table_path)
                       .alias("__p")))
        cand = doomed_paths.unionByName(dvs).distinct()
        # The snapshot's in-retention tombstones are belt-and-braces
        # here vs a young tombstone living OUTSIDE the window (e.g. a
        # marker written by an engine with a different advance rule).
        cand = cand.join(_protected_paths(snap, horizon), "__p", "left_anti")
        # Marker advance: a version whose tombstones are all past the
        # horizon is fully handled; the FIRST version still carrying an
        # in-retention tombstone (and everything after it) must stay in
        # the NEXT run's window, or those files would never be
        # reclaimable by a lite run once they age out.
        skipped = (removes.where(F.col("__ts") > F.lit(horizon))
                   .agg(F.min("__v")).collect()[0][0])
        vacuumed_through = head if skipped is None else int(skipped) - 1
        prefix = local_root.rstrip("/") + "/"
        cand = (cand.where(F.col("__p").startswith(prefix))
                .select(F.expr(
                    f"substring(__p, {len(prefix) + 1})").alias("rel")))

        if dry_run:
            # windows can overlap (the marker only advances past fully
            # aged-out versions) — report only files that still exist
            def exists_filter(batches):
                for pdf in batches:
                    keep = [rel for rel in pdf["rel"]
                            if store.exists(os.path.join(local_root,
                                                         rel))]
                    yield pd.DataFrame({"rel": keep})
            return sorted(r["rel"] for r in
                          cand.mapInPandas(exists_filter,
                                           "rel string").collect())

        def delete_files(batches):
            for pdf in batches:
                done = []
                for rel in pdf["rel"]:
                    try:
                        store.delete(os.path.join(local_root, rel))
                    except FileNotFoundError:
                        continue      # already reclaimed / task retry
                    done.append(rel)
                yield pd.DataFrame({"rel": done})

        doomed = sorted(r["rel"] for r in
                        cand.mapInPandas(delete_files,
                                         "rel string").collect())
        txn = t.log.start_transaction()
        txn.commit([], "VACUUM LITE END",
                   {"lastVacuumedVersion": str(vacuumed_through),
                    "retentionCheckEnabled": "true",
                    "numDeletedFiles": str(len(doomed))})
        return doomed

    def generate_manifest(self) -> List[str]:
        """Write a ``_symlink_format_manifest`` for the current
        snapshot — the interop path that lets manifest-based engines
        (Presto, Trino, Athena, Redshift Spectrum) query the table by
        reading a plain list of active Parquet files, the same
        engine-without-a-connector role the reference's Power BI reader
        plays (powerbi/fn_ReadDeltaTable.pq:9-10: re-derive the active
        file list outside the JVM).

        Layout mirrors Delta's GENERATE symlink_format_manifest: one
        ``manifest`` text file per partition directory (or a single
        root-level one for unpartitioned tables), each line an absolute
        ``file:`` URI of an active data file. Returns the manifest
        paths written. Stale manifest subdirectories from dropped
        partitions are removed.

        Scale: the driver groups the Snapshot's file rows by physical
        directory (the partition fan-out) and executor tasks write the
        directories' manifest files through the LogStore; the driver
        collects only the written paths (bounded by partition count,
        the inherent report size).
        """
        t = self.table
        spark = t.log.spark
        store = t.log.store
        snap = t.log.update() or t.snapshot()
        root = t.path
        local_root = root[len("file:"):] if root.startswith("file:") else root
        man_root = os.path.join(local_root, "_symlink_format_manifest")
        store.remove_tree(man_root)

        import pandas as pd
        from .shipping import ensure_shipped_by_value
        ensure_shipped_by_value()

        prefix = local_root.rstrip("/") + "/"
        # group by the file's PHYSICAL directory so the manifest tree
        # mirrors the on-disk partition layout even for escaped
        # partition values; files outside the table root (absolute-path
        # adds) land in the root manifest
        groups: Dict[str, List[str]] = {}
        for r in snap._files_rows:
            p = r["path"]
            sub = os.path.dirname(p[len(prefix):]) \
                if p.startswith(prefix) else ""
            groups.setdefault(sub, []).append("file:" + p)

        def write_manifests(batches):
            for pdf in batches:
                out = []
                for s, uris in zip(pdf["__sub"], pdf["__uris"]):
                    d = os.path.join(man_root, s) if s else man_root
                    path = os.path.join(d, "manifest")
                    os.makedirs(d, exist_ok=True)
                    store.write(path, list(uris), overwrite=True)
                    out.append(path)
                yield pd.DataFrame({"path": out})

        grouped = local_rows_df(
            spark, [(sub, sorted(uris)) for sub, uris in groups.items()],
            "__sub string, __uris array<string>")
        written = [r["path"] for r in
                   grouped.mapInPandas(write_manifests,
                                       "path string").collect()]
        return sorted(written)
