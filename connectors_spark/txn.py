"""Optimistic transactions: commit protocol + conflict detection.

Re-expresses the reference's write path
(``OptimisticTransactionImpl.scala:97-462``, ``ConflictChecker.scala:88-232``):

1. pin a read snapshot (W1),
2. record reads (predicates / files / whole-table) for conflict detection (W2),
3. ``commit``: prepare (relativize paths, first-commit Protocol+Metadata,
   partition-column check, append-only gate; W4), build CommitInfo with the
   isolation level (``Serializable`` when the txn changes data, else
   ``SnapshotIsolation``; isolationLevels.scala:19-25) and ``isBlindAppend``
   (adds only + no reads; OptimisticTransactionImpl.scala:125-130),
4. put-if-absent write of ``N.json``; on loss, replay each winning commit
   through the conflict rules (J2-J5) and retry at N+1.

Winning commits are a handful of small JSON files, so the conflict checks
run driver-side in plain Python -- the distributed engine is only involved
in producing the data files, never in the commit decision.
"""

from __future__ import annotations

import json
import time
from typing import Any, Dict, List, Optional, Sequence, Set

from .config import TableConfig
from .errors import (ConcurrentAppendException, ConcurrentDeleteDeleteException,
                     ConcurrentDeleteReadException, ConcurrentTransactionException,
                     DeltaError, DeltaProtocolError, MetadataChangedException,
                     ProtocolChangedException)
from .expressions import Expression
from .log import filenames as fn
from .log.actions import (AddFile, CommitInfo, DomainMetadata, Metadata,
                          Protocol, RemoveFile, SetTransaction,
                          from_json_line, to_json_line)

# Delta protocol 'Row Tracking': the metadata domain carrying the
# table-wide row-id high watermark.
ROW_TRACKING_DOMAIN = "delta.rowTracking"
from .log.logstore import FileAlreadyExistsError
from .log.snapshot import canonical_path, read_commit, relativize
from .partition_values import decode_row, partition_fields

MAX_RETRIES = 10_000_000  # OptimisticTransactionImpl.scala:44

SERIALIZABLE = "Serializable"
SNAPSHOT_ISOLATION = "SnapshotIsolation"

ENGINE_INFO = "connectors-spark/0.1"


class OptimisticTransaction:
    def __init__(self, log: "DeltaLog"):  # noqa: F821 (circular type)
        self.log = log
        self.snapshot = log.update()
        self.read_version = self.snapshot.version if self.snapshot else -1
        self.read_predicates: List[Expression] = []
        self.read_files: Set[str] = set()
        self._read_whole_table = False
        self.read_txn_app_ids: Set[str] = set()
        self.new_metadata: Optional[Metadata] = None
        self.committed = False

    # -------------------------------------------------------------- reads

    def txn_version(self, app_id: str) -> int:
        """Latest SetTransaction version for app_id, recording the dependency
        (OptimisticTransactionImpl.scala:221-224)."""
        self.read_txn_app_ids.add(app_id)
        if self.snapshot is None:
            return -1
        return self.snapshot.txn_version(app_id)

    def mark_files_as_read(self, predicate: Optional[Expression]):
        """Run a pruned scan and remember its bound predicate + files for
        conflict detection (W2, OptimisticTransactionImpl.scala:162-172)."""
        from .scan import DeltaScan
        scan = DeltaScan(self.snapshot, predicate)
        files = scan.collect_files()
        if scan.predicate is not None:
            self.read_predicates.append(scan.predicate)
        else:
            self._read_whole_table = True
        self.read_files.update(f.path for f in files)
        return files

    def read_whole_table(self) -> None:
        self._read_whole_table = True

    # ------------------------------------------------------------ metadata

    def update_metadata(self, metadata: Metadata,
                        overwrite_schema: bool = False) -> None:
        """<=1 metadata update per txn (OptimisticTransactionImpl.scala:187-214).

        ``overwrite_schema`` skips the write-compatibility rules -- only for
        operations that intentionally replace the schema with a previously
        committed one (RESTORE), never for evolution on append."""
        if self.new_metadata is not None:
            raise DeltaError("Cannot change the metadata more than once in a txn")
        self._check_partition_columns(metadata)
        if not metadata.schemaString:
            raise DeltaError("Table schema must not be empty")
        self._check_field_names(metadata)
        self.new_metadata = metadata
        self._overwrite_schema = overwrite_schema

    @staticmethod
    def _check_partition_columns(metadata: Metadata) -> None:
        # All partition columns in schema; >=1 non-partition column
        # (OptimisticTransactionImpl.scala:484-498).
        names = {f.name for f in metadata.schema.fields}
        for c in metadata.partitionColumns:
            if c not in names:
                raise DeltaError(f"Partition column {c} not found in schema")
        if names and not (names - set(metadata.partitionColumns)):
            raise DeltaError("Data written into a Delta table needs at least "
                             "one non-partition column")

    @staticmethod
    def _check_field_names(metadata: Metadata) -> None:
        # Parquet-illegal chars (SchemaUtils.scala:183-195); case-duplicates
        # (SchemaMergingUtils.scala).
        bad = set(' ,;{}()\n\t=')
        seen: Set[str] = set()
        for f in metadata.schema.fields:
            if any(ch in bad for ch in f.name):
                raise DeltaError(f"Invalid characters in column name {f.name!r}")
            low = f.name.lower()
            if low in seen:
                raise DeltaError(f"Duplicate column name {f.name!r} (case-insensitive)")
            seen.add(low)

    # -------------------------------------------------------------- commit

    def commit(self, actions: Sequence[Any], operation: str = "Manual Update",
               operation_parameters: Optional[Dict[str, str]] = None,
               engine_info: str = ENGINE_INFO,
               operation_metrics: Optional[Dict[str, str]] = None,
               user_metadata: Optional[str] = None) -> int:
        if self.committed:
            raise DeltaError("Transaction already committed")
        acts = list(actions)
        acts = self._prepare_commit(acts)

        # Row tracking flipped ON for a table with existing files: the
        # SAME commit backfills baseRowId onto every live AddFile (log-
        # only re-adds, no data rewrite — dataChange=False), so pre-
        # enablement rows get ids immediately instead of silently
        # reading NULL (delta-spark's ALTER TABLE enablement backfill).
        # The re-adds depend on the file list we read, so the txn reads
        # the whole table — a concurrent OPTIMIZE/DELETE must abort us,
        # not be resurrected by a stale re-add. Skipped: files this
        # commit adds or removes (a re-add of a removed file would win
        # on replay and bring it back, e.g. a RESTORE across an
        # enablement) and files that kept ids from an earlier
        # enablement.
        new_meta_act = next(
            (a for a in acts if isinstance(a, Metadata)), None)
        backfilled: Set[str] = set()
        if (new_meta_act is not None and self.snapshot is not None
                and TableConfig(new_meta_act.configuration)
                .enable_row_tracking
                and not TableConfig(self.snapshot.metadata.configuration)
                .enable_row_tracking):
            import dataclasses
            tp = self.log.table_path
            touched = {canonical_path(a.path, tp) for a in acts
                       if isinstance(a, (AddFile, RemoveFile))}
            backfill = [
                dataclasses.replace(a, path=relativize(a.path, tp),
                                    dataChange=False,
                                    defaultRowCommitVersion=None)
                for a in self.snapshot.all_files()
                if a.path not in touched and a.baseRowId is None]
            backfilled = {a.path for a in backfill}
            if backfill:
                self._read_whole_table = True
                self._carries_enablement_backfill = True
                acts = acts + backfill

        data_changed = any(
            getattr(a, "dataChange", False)
            for a in acts if isinstance(a, (AddFile, RemoveFile)))
        # The enablement backfill is dataChange=False but its re-add
        # list IS a whole-table read: under SnapshotIsolation a
        # concurrent blind append would be skipped by J2, and the
        # winner's pre-enablement file — absent from our stale list —
        # would end up with no baseRowId (NULL _row_id on a freshly
        # row-tracked table). SERIALIZABLE makes the winner abort us;
        # the caller's retry recomputes the backfill from a fresh
        # snapshot.
        isolation = SERIALIZABLE if (
            data_changed or getattr(self, "_carries_enablement_backfill",
                                    False)) else SNAPSHOT_ISOLATION
        only_add_files = all(not isinstance(a, RemoveFile)
                             for a in acts if isinstance(a, (AddFile, RemoveFile)))
        depends_on_files = bool(self.read_predicates) or self._read_whole_table
        is_blind_append = only_add_files and not depends_on_files

        eff_meta = self.new_metadata or next(
            (a for a in acts if isinstance(a, Metadata)), None) or (
            self.snapshot.metadata if self.snapshot else None)
        ict_enabled = eff_meta is not None and TableConfig(
            eff_meta.configuration).enable_in_commit_timestamps
        rt_enabled = eff_meta is not None and TableConfig(
            eff_meta.configuration).enable_row_tracking and any(
            isinstance(a, AddFile) for a in acts)
        # ICT flipped ON for a table that already has history: the SAME
        # commit must record WHERE the cutover happened
        # (delta.inCommitTimestampEnablementVersion/-Timestamp, the
        # spec's provenance for timestamp-based time travel over mixed
        # mtime/ICT histories) — stamped per ATTEMPT since the version
        # and the ICT both move on conflict retries.
        ict_flipped = (ict_enabled and self.snapshot is not None
                       and not TableConfig(self.snapshot.metadata
                                           .configuration)
                       .enable_in_commit_timestamps)

        def build_lines(prev_version: int, eff_acts: List[Any]):
            ict = None
            if ict_enabled:
                # the commit's own monotonic clock: strictly greater
                # than the PREDECESSOR commit's (re-derived per retry
                # attempt so a conflict winner can't order after us),
                # immune to log-file mtime skew
                prev = _read_ict(self.log.store, self.log.log_path,
                                 prev_version)
                ict = max(int(time.time() * 1000),
                          (prev or 0) + 1)
            if ict_flipped and ict is not None:
                import dataclasses
                stamped = []
                for a in eff_acts:
                    if isinstance(a, Metadata):
                        conf = dict(a.configuration or {})
                        conf["delta.inCommitTimestampEnablementVersion"] \
                            = str(prev_version + 1)
                        conf["delta.inCommitTimestampEnablementTimestamp"] \
                            = str(ict)
                        a = dataclasses.replace(a, configuration=conf)
                    stamped.append(a)
                eff_acts = stamped
            info = CommitInfo(
                timestamp=int(time.time() * 1000),
                operation=operation,
                operationParameters=operation_parameters or {},
                readVersion=self.read_version
                if self.read_version >= 0 else None,
                isolationLevel=isolation,
                isBlindAppend=is_blind_append,
                operationMetrics=operation_metrics,
                userMetadata=user_metadata,
                engineInfo=engine_info,
                inCommitTimestamp=ict,
            )
            # the actions as written: an ICT flip stamps the Metadata
            return ([to_json_line(info)]
                    + [to_json_line(a) for a in eff_acts], eff_acts)

        attempt_version = self.read_version + 1
        for _ in range(MAX_RETRIES):
            # Row tracking re-assigns per ATTEMPT: a conflict winner may
            # have raised the high watermark, and baseRowIds must never
            # overlap — the Delta spec's conflict resolution is exactly
            # "reassign above the winner's watermark and retry".
            eff_acts = self._assign_row_ids(acts, attempt_version) \
                if rt_enabled else acts
            lines, written = build_lines(attempt_version - 1, eff_acts)
            target = fn.delta_file(self.log.log_path, attempt_version)
            try:
                self.log.store.write(target, lines, overwrite=False)
                self.committed = True
                # a backfill re-add replaces its own live entry: no
                # change to the file count or the table size
                self._write_version_checksum(attempt_version, [
                    a for a in eff_acts if not (
                        isinstance(a, AddFile) and a.path in backfilled)])
                self.log.post_commit(attempt_version, written)
                return attempt_version
            except FileAlreadyExistsError:
                self._check_for_conflicts(attempt_version, eff_acts,
                                          isolation)
                attempt_version += 1
        raise DeltaError("commit retry budget exhausted")

    def _assign_row_ids(self, acts: List[Any],
                        attempt_version: int) -> List[Any]:
        """Fresh row-id assignment for this attempt (Delta protocol
        'Row Tracking'): every AddFile gets baseRowId = watermark + 1
        (watermark advances by the file's numRecords) and
        defaultRowCommitVersion = the version being attempted; one
        delta.rowTracking DomainMetadata action publishes the new
        watermark. The watermark is read from the PREDECESSOR version's
        state — the read snapshot on the first attempt, a fresh log
        read on retries (the conflict path already read those files)."""
        import dataclasses

        if self.snapshot is None:
            dm = None  # first commit: the table starts at watermark -1
        elif attempt_version - 1 == self.read_version:
            dm = self.snapshot.domain_metadata.get(ROW_TRACKING_DOMAIN)
        else:
            dm = self.log.snapshot().domain_metadata.get(
                ROW_TRACKING_DOMAIN)
        hwm = json.loads(dm)["rowIdHighWaterMark"] if dm else -1
        hwm0 = hwm
        out: List[Any] = []
        for a in acts:
            if isinstance(a, AddFile):
                if a.baseRowId is not None:
                    # RE-added file (DV attach, RESTORE of a tracked
                    # file, CLONE from a tracked source): its rows keep
                    # their ids — the spec requires preserving baseRowId
                    # on re-adds. The watermark must still DOMINATE the
                    # preserved range (a clone into a fresh table starts
                    # at -1), so account its top edge.
                    n = (json.loads(a.stats).get("numRecords")
                         if a.stats else None)
                    if n is not None:
                        hwm = max(hwm, a.baseRowId + int(n) - 1)
                    elif a.baseRowId > hwm:
                        raise DeltaError(
                            f"cannot preserve row ids of {a.path}: its "
                            f"baseRowId exceeds the table watermark and "
                            f"it carries no numRecords stats")
                    out.append(a)
                    continue
                n = None
                if a.stats:
                    n = json.loads(a.stats).get("numRecords")
                if n is None:
                    raise DeltaError(
                        f"row tracking requires numRecords stats on "
                        f"every AddFile; {a.path} has none (disable "
                        f"delta.enableRowTracking or write stats)")
                a = dataclasses.replace(
                    a, baseRowId=hwm + 1,
                    defaultRowCommitVersion=attempt_version)
                hwm += int(n)
            elif isinstance(a, DomainMetadata) \
                    and a.domain == ROW_TRACKING_DOMAIN:
                continue  # superseded by the fresh watermark below
            out.append(a)
        if hwm != hwm0 or dm is None:
            out.append(DomainMetadata(
                ROW_TRACKING_DOMAIN,
                json.dumps({"rowIdHighWaterMark": hwm},
                           separators=(",", ":"))))
        return out

    def _write_version_checksum(self, version: int,
                                acts: List[Any]) -> None:
        """Best-effort <version>.crc integrity record (log/checksum.py):
        incremental from the predecessor's record + this commit's
        actions, zero Spark jobs; a broken chain or any error skips the
        write — never the commit."""
        try:
            from .log import checksum as cks
            # A permanently broken chain (pre-feature table, gap past
            # the walk bound) must not cost a back-walk of small file
            # reads on EVERY commit: remember the failure on the
            # process-cached DeltaLog; compute_checksum() clears it.
            if getattr(self.log, "_crc_chain_broken", False):
                return
            prev = (cks.reconstruct_checksum(
                self.log.store, self.log.log_path, version - 1)
                if version > 0 else None)
            if prev is None and version > 0:
                self.log._crc_chain_broken = True
                return
            crc = cks.incremental_checksum(
                prev, acts, version == 0,
                self.snapshot.protocol if self.snapshot else None,
                self.snapshot.metadata if self.snapshot else None)
            if crc is not None:
                cks.write_checksum(self.log.store, self.log.log_path,
                                   version, crc)
        except Exception:  # noqa: BLE001 — advisory record only
            pass

    def _prepare_commit(self, actions: List[Any]) -> List[Any]:
        if any(isinstance(a, CommitInfo) for a in actions):
            # The transaction writes its own CommitInfo as the first log
            # line; a second one would violate the one-per-commit
            # protocol shape (OptimisticTransactionImpl.scala:253-255).
            raise DeltaError("User-provided CommitInfo is not committable; "
                             "pass operation/operationParameters instead")
        metadatas = [a for a in actions if isinstance(a, Metadata)]
        if len(metadatas) > 1:
            raise DeltaError("Cannot change the metadata more than once per commit")
        if metadatas and self.new_metadata is not None:
            raise DeltaError("Metadata already set via update_metadata")
        if self.new_metadata is not None:
            actions = [self.new_metadata] + actions

        table_path = self.log.table_path
        if self.snapshot is not None:
            # Writer-side twin of the read gate: refuse to commit to a
            # table whose protocol demands writer features this engine
            # lacks (W9 extended; log/features.py).
            from .log.features import assert_writable
            assert_writable(self.snapshot.protocol, table_path)
        out: List[Any] = []
        for a in actions:
            if isinstance(a, AddFile):
                a = AddFile(path=relativize(a.path, table_path),
                            partitionValues=a.partitionValues, size=a.size,
                            modificationTime=a.modificationTime,
                            dataChange=a.dataChange, stats=a.stats,
                            tags=a.tags, baseRowId=a.baseRowId,
                            defaultRowCommitVersion=a.defaultRowCommitVersion)
            elif isinstance(a, RemoveFile):
                a = RemoveFile(path=relativize(a.path, table_path),
                               deletionTimestamp=a.deletionTimestamp,
                               dataChange=a.dataChange,
                               extendedFileMetadata=a.extendedFileMetadata,
                               partitionValues=a.partitionValues, size=a.size,
                               tags=a.tags, baseRowId=a.baseRowId,
                               defaultRowCommitVersion=a.
                               defaultRowCommitVersion)
            elif isinstance(a, Protocol):
                # The reference commits only Protocol(1,2)
                # (OptimisticTransactionImpl.scala:289-293); this
                # engine additionally commits the spec versions of the
                # features it implements (log/features.py) — anything
                # outside that space stays uncommittable.
                if (a.minReaderVersion, a.minWriterVersion) != (1, 2):
                    from .log.features import (assert_readable,
                                               assert_writable)
                    try:
                        assert_readable(a, table_path)
                        assert_writable(a, table_path)
                    except ValueError as e:
                        raise DeltaProtocolError(
                            f"Can only commit Protocol(1, 2) or a "
                            f"supported feature upgrade: {e}")
                if self.snapshot is not None:
                    # Protocols are MONOTONE: an explicit Protocol action
                    # must dominate the snapshot's (versions ≥, features
                    # ⊇), or a legacy (1,2) re-commit would silently
                    # downgrade an upgraded table and let legacy readers
                    # misread it — delta-spark raises
                    # ProtocolDowngradeException here.
                    from .log.features import protocol_dominates
                    sp = self.snapshot.protocol
                    if not protocol_dominates(a, sp):
                        raise DeltaProtocolError(
                            f"Protocol downgrade not allowed: table at "
                            f"{table_path} requires "
                            f"({sp.minReaderVersion}, "
                            f"{sp.minWriterVersion}) with features "
                            f"{sorted(set(sp.readerFeatures or []) | set(sp.writerFeatures or []))}; "
                            f"commit carries ({a.minReaderVersion}, "
                            f"{a.minWriterVersion})")
            out.append(a)
        actions = out

        if self.read_version < 0:
            # First commit: needs metadata; inject Protocol (W4,
            # OptimisticTransactionImpl.scala:242-310).
            has_meta = any(isinstance(a, Metadata) for a in actions)
            if not has_meta:
                raise DeltaError("The first commit must provide table metadata")
            if not any(isinstance(a, Protocol) for a in actions):
                actions = [Protocol()] + actions

        meta = next((a for a in actions if isinstance(a, Metadata)), None)
        effective_meta = meta or (self.snapshot.metadata if self.snapshot else None)
        if effective_meta is not None:
            # partitionValues keys live in the PHYSICAL name domain
            # under column mapping (identity when mode=none)
            pcols = list(effective_meta.physical_partition_columns)
            for a in actions:
                if isinstance(a, AddFile):
                    if sorted(a.partitionValues.keys()) != sorted(pcols):
                        raise DeltaError(
                            f"AddFile partition values {sorted(a.partitionValues)} "
                            f"do not match table partition columns {sorted(pcols)}")
            cfg = TableConfig(effective_meta.configuration)
            # an explicit delta.feature.<name> property is ITSELF the
            # upgrade opt-in (delta-spark bumps the protocol whenever a
            # feature is enabled) — and unknown names must fail loudly
            # here even without autoUpgrade, not ride along unhonoured
            has_feature_props = any(
                k.startswith("delta.feature.")
                for k in (effective_meta.configuration or {}))
            from .dv import DV_TAG
            from .log.features import (merge_protocols,
                                       required_protocol)
            extra = set()
            if any(isinstance(a, AddFile)
                   and (a.tags or {}).get(DV_TAG) for a in actions):
                extra.add("deletionVectors")
            if any(isinstance(a, DomainMetadata) for a in actions):
                extra.add("domainMetadata")
            if meta is not None:
                # committing a schema that CONTAINS a variant column
                # exercises the feature — declare it opt-in or not
                from .log.features import _has_variant
                if any(_has_variant(f.dataType)
                       for f in meta.schema.fields):
                    extra.add("variantType")
            # WRITER-7-TIER features the table state activates are
            # exercised by every commit that runs under them — declare
            # them opt-in or not (delta-spark bumps on enablement).
            # Legacy-tier features (CDF/constraints/generated/identity/
            # column mapping) stay on the documented reference-parity
            # stance: autoUpgrade is their opt-in (SURVEY W9).
            eff_cfg = TableConfig(effective_meta.configuration)
            if eff_cfg.enable_row_tracking:
                extra.update({"rowTracking", "domainMetadata"})
            if eff_cfg.enable_in_commit_timestamps:
                extra.add("inCommitTimestamp")
            if eff_cfg.checkpoint_policy == "v2":
                extra.add("v2Checkpoint")
            if eff_cfg.enable_type_widening or any(
                    (f.metadata or {}).get("delta.typeChanges")
                    for f in effective_meta.schema.fields):
                extra.add("typeWidening")
            if cfg.protocol_auto_upgrade or has_feature_props or extra:
                # Opt-in interop safety: compute the protocol the table
                # state REQUIRES (spec version map) and bump the
                # Protocol action when it grows, so a foreign legacy
                # reader refuses a mapped/DV/ICT table instead of
                # silently misreading it. Monotone merge — a feature
                # once required never disappears (historical versions
                # still need it). A nonempty ``extra`` forces the block
                # even WITHOUT the autoUpgrade opt-in: a commit that
                # actually writes DomainMetadata or DV actions onto a
                # legacy (1,2) table would violate the spec's writer
                # requirements for foreign clients — delta-spark always
                # bumps when a feature is exercised, opt-in or not.
                # `cur` starts from the SNAPSHOT protocol merged with
                # any in-commit Protocol action (the downgrade check
                # above already guarantees the explicit action
                # dominates, but merging keeps the invariant local)
                cur = (self.snapshot.protocol
                       if self.snapshot is not None else Protocol())
                explicit = next(
                    (a for a in actions if isinstance(a, Protocol)), None)
                if explicit is not None:
                    cur = merge_protocols(cur, explicit)
                req = merge_protocols(
                    cur, required_protocol(effective_meta, extra))

                def _canon(p):
                    # order-insensitive feature comparison: a foreign
                    # writer may have serialized the lists unsorted,
                    # and a false inequality here would re-commit a
                    # Protocol action on EVERY commit (aborting all
                    # concurrent writers via the protocol-change check)
                    return (p.minReaderVersion, p.minWriterVersion,
                            frozenset(p.readerFeatures or []),
                            frozenset(p.writerFeatures or []))
                if _canon(req) != _canon(cur)                         or any(isinstance(a, Protocol) for a in actions):
                    actions = [req] + [a for a in actions
                                       if not isinstance(a, Protocol)]
            if cfg.append_only:
                for a in actions:
                    if isinstance(a, RemoveFile) and a.dataChange:
                        raise DeltaError(
                            "This table is append-only (delta.appendOnly); "
                            "removes with dataChange are forbidden "
                            "(DeltaLogImpl.assertRemovable)")
        if meta is not None:
            self._check_partition_columns(meta)
            self._check_field_names(meta)
            if self.snapshot is not None \
                    and not getattr(self, "_overwrite_schema", False):
                _check_schema_evolution(self.snapshot.metadata, meta)
            if TableConfig(meta.configuration).enable_row_tracking:
                # Row Tracking spec: the MATERIALIZED row-id column
                # names are per-table metadata properties, recorded at
                # enablement so foreign Delta clients can recognize
                # materialized ids in rewritten files. Names must never
                # collide with a schema column (logical or physical).
                import dataclasses
                import uuid as _uuid

                from .log.snapshot import (MATERIALIZED_ROW_COMMIT_COL,
                                           MATERIALIZED_ROW_ID_COL,
                                           RT_RCV_NAME_KEY,
                                           RT_RID_NAME_KEY)
                conf = dict(meta.configuration or {})
                taken = ({f.name for f in meta.schema.fields}
                         | set(meta.name_map().values()))
                changed = False
                for key, default, base in (
                        (RT_RID_NAME_KEY, MATERIALIZED_ROW_ID_COL,
                         "_row-id-col-"),
                        (RT_RCV_NAME_KEY, MATERIALIZED_ROW_COMMIT_COL,
                         "_row-commit-version-col-")):
                    if key not in conf:
                        conf[key] = default if default not in taken \
                            else base + _uuid.uuid4().hex
                        changed = True
                    elif conf[key] in taken:
                        raise DeltaError(
                            f"schema column {conf[key]!r} collides with "
                            f"the materialized row-tracking column "
                            f"({key}); rename the column")
                if changed:
                    new_meta = dataclasses.replace(
                        meta, configuration=conf)
                    actions = [new_meta if a is meta else a
                               for a in actions]
                    if self.new_metadata is meta:
                        self.new_metadata = new_meta
        return actions

    # ----------------------------------------------------- conflict checks

    def _check_for_conflicts(self, winning_version: int,
                             my_actions: List[Any], isolation: str) -> None:
        """Replay one winning commit through J2-J5
        (ConflictChecker.scala:88-232). Raises if this txn must abort;
        returning means we may retry at the next version."""
        winning = read_commit(self.log.store,
                              fn.delta_file(self.log.log_path,
                                            winning_version))

        commit_info = next((a for a in winning if isinstance(a, CommitInfo)), None)
        blind_append = bool(commit_info.isBlindAppend) if commit_info else False

        if any(isinstance(a, Protocol) for a in winning):
            raise ProtocolChangedException(
                f"version {winning_version} changed the protocol")
        if any(isinstance(a, Metadata) for a in winning):
            raise MetadataChangedException(
                f"version {winning_version} changed table metadata")

        win_adds = [a for a in winning if isinstance(a, AddFile)]
        win_removes = [a for a in winning if isinstance(a, RemoveFile)]
        win_txns = {a.appId for a in winning if isinstance(a, SetTransaction)}

        if win_txns & self.read_txn_app_ids:
            raise ConcurrentTransactionException(
                f"concurrent SetTransaction for appIds "
                f"{sorted(win_txns & self.read_txn_app_ids)}")

        table_path = self.log.table_path
        my_removed = {canonical_path(a.path, table_path)
                      for a in my_actions if isinstance(a, RemoveFile)}
        my_domains = {a.domain for a in my_actions
                      if isinstance(a, DomainMetadata)}

        # Domain-metadata conflicts: two txns writing the SAME domain is
        # a lost update for whichever retries blindly — abort, except
        # delta.rowTracking, whose watermark the retry loop re-derives
        # from the winner's state (the spec's prescribed resolution).
        win_domains = {a.domain for a in winning
                       if isinstance(a, DomainMetadata)}
        clash = (my_domains & win_domains) - {ROW_TRACKING_DOMAIN}
        if clash:
            raise ConcurrentTransactionException(
                f"version {winning_version} concurrently wrote metadata "
                f"domains {sorted(clash)}")

        # J2: added files this txn should have read. Under SnapshotIsolation a
        # blind append can never invalidate our reads
        # (ConflictChecker.scala:148-173).
        check_adds = win_adds if (isolation == SERIALIZABLE or not blind_append) \
            else []
        if check_adds and (self._read_whole_table or self.read_predicates):
            # the pruner's decode (scan.py): physical keys through the
            # name map, typed by the partition schema
            pfields = partition_fields(self.snapshot.metadata)
            for a in check_adds:
                if self._read_whole_table:
                    raise ConcurrentAppendException(
                        f"file added by version {winning_version}: {a.path}")
                row = decode_row(a.partitionValues, pfields)
                for pred in self.read_predicates:
                    # Conservative three-valued resolution: eval() is None
                    # when the predicate references a column absent from
                    # partitionValues (a data-column predicate) — unknown
                    # overlap MUST conflict, else two overlapping merges
                    # both commit (lost update). Matches the reference's
                    # unknown-as-conflict treatment.
                    if pred.eval(row) is not False:
                        raise ConcurrentAppendException(
                            f"file added by version {winning_version} matches "
                            f"a read predicate: {a.path}")

        win_removed_paths = {canonical_path(r.path, table_path)
                             for r in win_removes}
        # J3: winning commit deleted something I read.
        if self._read_whole_table and win_removed_paths:
            raise ConcurrentDeleteReadException(
                f"version {winning_version} deleted files while this txn read "
                f"the whole table")
        hit = win_removed_paths & self.read_files
        if hit:
            raise ConcurrentDeleteReadException(
                f"version {winning_version} deleted file(s) read by this txn: "
                f"{sorted(hit)[:3]}")
        # J4: both deleted the same file.
        both = win_removed_paths & my_removed
        if both:
            raise ConcurrentDeleteDeleteException(
                f"version {winning_version} also deleted {sorted(both)[:3]}")


def _read_ict(store, log_path: str, version: int) -> Optional[int]:
    """inCommitTimestamp of ``version``'s CommitInfo (None when absent
    or version < 0) — commit timestamps for mixed pre/post-enablement
    histories fall back per commit (log/history.py)."""
    if version < 0:
        return None
    try:
        for line in store.read(fn.delta_file(log_path, version)):
            a = from_json_line(line)
            if isinstance(a, CommitInfo):
                return a.inCommitTimestamp
            if a is not None and not isinstance(a, CommitInfo):
                continue
    except FileNotFoundError:
        return None
    return None


_WIDEN_CHAIN = ("byte", "short", "integer", "long")


def is_type_widening(old_dt, new_dt) -> bool:
    """True when ``old_dt -> new_dt`` is a supported WIDENING (Delta
    protocol 'Type Widening'): byte < short < int < long,
    float -> double, or decimal precision growth at EQUAL scale — the
    promotions Spark's parquet reader performs losslessly at scan time
    on the old files. (The spec's decimal-scale and integer->double
    widenings are excluded: they change the stored value's
    representation, which the scan-time promotion path can't do.)"""
    from pyspark.sql import types as T
    if old_dt == new_dt:
        return False
    if isinstance(old_dt, T.DecimalType) and \
            isinstance(new_dt, T.DecimalType):
        return (new_dt.scale == old_dt.scale
                and new_dt.precision > old_dt.precision)
    on, nn = old_dt.typeName(), new_dt.typeName()
    if on in _WIDEN_CHAIN and nn in _WIDEN_CHAIN:
        return _WIDEN_CHAIN.index(nn) > _WIDEN_CHAIN.index(on)
    return on == "float" and nn == "double"


def _check_schema_evolution(old: Metadata, new: Metadata) -> None:
    """Write-compatibility rules (SchemaUtils.scala:82-141): no dropped
    columns, no type changes, no nullable->non-null; new columns nullable.

    Under column mapping (mode=name) a field's identity is its
    column-mapping ID, not its logical name — RENAME COLUMN keeps the
    id, DROP COLUMN removes it — so fields are matched by id and drops
    are permitted (they can only originate from the explicit DDL
    methods: write-time evolution on mapped tables is refused before a
    transaction ever starts, table.write/streaming.sink). Type changes
    and nullability tightening stay forbidden per id — the files on
    disk don't change."""
    widen_ok = TableConfig(new.configuration).enable_type_widening
    if new.column_mapping_mode == "name" \
            and old.column_mapping_mode == "name":
        def by_id(meta):
            out = {}
            for f in meta.schema.fields:
                fid = (f.metadata or {}).get("delta.columnMapping.id")
                if fid is not None:
                    out[fid] = f
            return out
        old_ids, new_ids = by_id(old), by_id(new)
        for fid, f in old_ids.items():
            nf = new_ids.get(fid)
            if nf is None:
                continue                         # DROP COLUMN
            if nf.dataType != f.dataType and not (
                    widen_ok and is_type_widening(f.dataType,
                                                  nf.dataType)):
                raise DeltaError(
                    f"Schema evolution cannot change type of {f.name!r}")
            if f.nullable and not nf.nullable:
                raise DeltaError(
                    f"Schema evolution cannot tighten nullability of "
                    f"{f.name!r}")
        for fid, nf in new_ids.items():
            if fid not in old_ids and not nf.nullable:
                raise DeltaError(f"New column {nf.name!r} must be nullable")
        return
    old_fields = {f.name: f for f in old.schema.fields}
    new_fields = {f.name: f for f in new.schema.fields}
    if not old_fields:
        return
    for name, f in old_fields.items():
        if name not in new_fields:
            raise DeltaError(f"Schema evolution cannot drop column {name!r}")
        nf = new_fields[name]
        if nf.dataType != f.dataType and not (
                widen_ok and is_type_widening(f.dataType, nf.dataType)):
            raise DeltaError(f"Schema evolution cannot change type of {name!r}")
        if f.nullable and not nf.nullable:
            raise DeltaError(f"Schema evolution cannot tighten nullability of {name!r}")
    for name, nf in new_fields.items():
        if name not in old_fields and not nf.nullable:
            raise DeltaError(f"New column {name!r} must be nullable")
