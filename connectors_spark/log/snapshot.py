"""Snapshot: the state of a Delta table at one version.

Path domain. A ``path`` read from the log (add, remove and cdc actions,
a deletion-vector tag, and the URI Spark reports as
``_metadata.file_path``) is a URI: percent-encoded, relative to the
table root or absolute. :func:`canonical_path` and its Column twin
:func:`canonical_path_col` turn it into a physical absolute path, with
the semantics of the reference's ``SnapshotImpl.canonicalizePath``
(``new Path(new URI(p))``). They run exactly once, where a path enters
from the log. Everything downstream carries physical paths and never
decodes them again: the file and tombstone planes, scans, DML candidate
sets and the path sets of conflict checks. A Hive-escaped directory
name holds literal ``%XX`` bytes, which a second decode corrupts.
:func:`relativize` is the way back: it encodes a physical path for the
log (commits and checkpoints).

State. Table state is one replay of checkpoint plus commits, keyed by
canonical path: the newest action wins, and within one version an add
beats a remove (InMemoryLogReplay.scala:64-81). The replay yields two
planes: active files (latest action an add) and tombstones (latest
action a remove). It has one implementation, the driver fold
(:func:`fold_file_actions`, driven by :func:`replay_planes`), for every
store and every checkpoint shape (classic single-part, multi-part, v2
manifest plus sidecars). A cold Snapshot reads each checkpoint file
through its LogStore as bytes and folds its ``remove`` and ``add``
columns one record batch at a time, then the commits after it;
``DeltaLog.update`` folds new commits over the previous Snapshot's
planes (``seed_from``). The streaming source, which has no
SparkSession, calls the same fold.

Every engine consumer of table state reads the driver rows
(``_files_rows``, ``retained_tombstone_rows``): scans, DML, commits
that enumerate the whole table (overwrite, unconditional DELETE,
CLONE, RESTORE), VACUUM, checksums and manifests.

Protocol, metadata, SetTransactions and domain metadata
(:class:`LogState`) come from the same parsed commits plus one
column-pruned read of the checkpoint, and advance the same incremental
way. A Snapshot parses each of its commit files once (``_deltas``).

Table data is read by one file-scan core, :meth:`Snapshot.read_files`,
for snapshot reads (``to_df``) and both change feeds alike. Partition
values come from ``AddFile.partitionValues``, never from paths
(DeltaInputFormat.scala:33-53): through Spark's partition-dir
discovery when the layout provably agrees with the log, else through
the scan's one broadcast per-file map, which also carries commit
versions and row-id bases. File sizes and modification times come from
the log too: Spark lists nothing.
"""

from __future__ import annotations

import os
import re
import time
import urllib.parse
from dataclasses import dataclass, field
from functools import cached_property
from typing import Dict, Iterable, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import TableConfig
from . import filenames as fn
from .actions import (AddFile, DomainMetadata, Metadata, Protocol,
                      RemoveFile, SetTransaction, from_json_line,
                      parse_action)
from .features import assert_readable
from .logstore import LogStore, strip_scheme
from .segment import LogSegment

_SCHEME = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"
_SCHEME_AUTHORITY = _SCHEME + r"[^/]*"
_BAD_ESCAPE = re.compile(r"%(?![0-9a-fA-F]{2})")


def canonical_path(p: str, table_path: str) -> str:
    """Physical absolute path for a log ``path`` value: URI-decoded,
    scheme and authority dropped, a relative path resolved against the
    table root (SnapshotImpl.canonicalizePath, SnapshotImpl.scala:349-362).
    A value that is not valid percent-encoding is left undecoded, as
    Spark's ``try_url_decode`` leaves it in :func:`canonical_path_col`."""
    d = p
    if "%" in p and not _BAD_ESCAPE.search(p):
        d = urllib.parse.unquote(p)
    if ":" in d:
        if re.match(_SCHEME, d):
            return re.sub(_SCHEME_AUTHORITY, "", d, count=1)
        if d.startswith("file:"):
            return d[len("file:"):]
    if d.startswith("/"):
        return d
    return table_path.rstrip("/") + "/" + d


def canonical_path_col(col, table_path: str):
    """Column-expression twin of :func:`canonical_path`, equal to it on
    every input.

    Spark's ``url_decode`` follows application/x-www-form-urlencoded
    and turns ``+`` into a space — but log paths are URIs, where ``+``
    is a literal (a delta-spark table partitioned on a value containing
    ``+`` is the interop case). Shield literal plus as %2B first so the
    decode round-trips it."""
    shielded = f"replace({col}, '+', '%2B')"
    d = F.coalesce(F.expr(f"try_url_decode({shielded})"), F.col(col))
    # Every branch must stay NON-NULL for a non-null input: a nullable
    # output makes every join keyed on the canonical path re-evaluate
    # this whole expression a second time inside the join's inserted
    # isnotnull() null-filter (one extra per-row regex+decode pass on
    # each DML target scan). The file: branch therefore strips from the
    # coalesced decode.
    return (
        F.when(d.rlike(_SCHEME), F.regexp_replace(d, _SCHEME_AUTHORITY, ""))
        .when(d.startswith("file:"), F.substring(d, 6, 2147483647))
        .when(d.startswith("/"), d)
        .otherwise(F.concat(F.lit(table_path.rstrip("/") + "/"), d))
    )


def relativize(path: str, table_path: str) -> str:
    """Log spelling of a physical path, the inverse of
    :func:`canonical_path` (DeltaFileOperations.tryRelativizePath,
    FileNames.absolutePath:100-107). Under the table root it is
    root-relative with each segment URI-encoded (``urllib.parse.quote``),
    also under a root with a scheme (``memory://``, ``s3://``); another
    absolute path becomes an encoded ``file://`` URI; any other value is
    already a log path (the writer stages table-relative, encoded paths)
    and passes through unchanged."""
    root = table_path.rstrip("/") + "/"
    if path.startswith(root):
        return urllib.parse.quote(path[len(root):])
    if not path.startswith("/"):
        return path
    return "file://" + urllib.parse.quote(path)


# The two planes' row shapes; rows re-enter Spark as local relations
# over them.
_STR_MAP = T.MapType(T.StringType(), T.StringType())
FILES_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("partitionValues", _STR_MAP),
    T.StructField("size", T.LongType()),
    T.StructField("modificationTime", T.LongType()),
    T.StructField("dataChange", T.BooleanType()),
    T.StructField("stats", T.StringType()),
    T.StructField("tags", _STR_MAP),
    T.StructField("baseRowId", T.LongType()),
    T.StructField("defaultRowCommitVersion", T.LongType()),
    T.StructField("version", T.LongType()),
])
TOMBSTONES_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("deletionTimestamp", T.LongType()),
    T.StructField("tags", _STR_MAP),
    T.StructField("extendedFileMetadata", T.BooleanType()),
    T.StructField("partitionValues", _STR_MAP),
    T.StructField("size", T.LongType()),
    T.StructField("version", T.LongType()),
])
_FILE_ROW = Row(*FILES_SCHEMA.names)
_TOMBSTONE_ROW = Row(*TOMBSTONES_SCHEMA.names)


def _map(m):
    # pyarrow reads a map column as a list of pairs; JSON gives a dict
    return dict(m) if m is not None else None


def fold_file_actions(files: Dict[str, Row], tombstones: Dict[str, Row],
                      version: int, adds: Iterable[Mapping],
                      removes: Iterable[Mapping], table_path: str) -> None:
    """Apply one version's add and remove actions to both planes, in
    place — the driver fold. ``files`` and ``tombstones`` map canonical
    path to row; ``adds`` and ``removes`` are field mappings
    (checkpoint column dicts, or ``vars()`` of parsed actions). Within
    one version an add beats a remove of the same path, so a remove
    applies only to paths the version does not re-add."""
    added = {canonical_path(a["path"], table_path): a for a in adds}
    for r in removes:
        p = canonical_path(r["path"], table_path)
        if p in added:
            continue
        files.pop(p, None)
        tombstones[p] = _TOMBSTONE_ROW(
            p, r.get("deletionTimestamp"), _map(r.get("tags")),
            r.get("extendedFileMetadata"), _map(r.get("partitionValues")),
            r.get("size"), version)
    for p, a in added.items():
        tombstones.pop(p, None)
        files[p] = _FILE_ROW(
            p, _map(a.get("partitionValues")), a.get("size"),
            a.get("modificationTime"), a.get("dataChange"), a.get("stats"),
            _map(a.get("tags")), a.get("baseRowId"),
            a.get("defaultRowCommitVersion"), version)


def fold_commit(files: Dict[str, Row], tombstones: Dict[str, Row],
                version: int, actions: Sequence, table_path: str) -> None:
    """:func:`fold_file_actions` over one commit's parsed actions."""
    fold_file_actions(
        files, tombstones, version,
        [vars(a) for a in actions if isinstance(a, AddFile)],
        [vars(a) for a in actions if isinstance(a, RemoveFile)],
        table_path)


def read_commit(store: LogStore, path: str) -> List:
    """The parsed actions of one commit file (unknown kinds dropped)."""
    return [a for a in map(from_json_line, store.read(path))
            if a is not None]


def _commit_version(path: str) -> int:
    # A compacted range carries at most one net action per path, so its
    # actions replay as one commit at the range's end version.
    if fn.is_compacted_file(path):
        return fn.compacted_range(path)[1]
    return fn.delta_version(os.path.basename(path))


def _open_parquet(store: LogStore, path: str):
    """A ``pyarrow.parquet.ParquetFile`` over one checkpoint file (or v2
    sidecar), read through ``store`` as bytes: one read per file, on
    any store."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    return pq.ParquetFile(pa.BufferReader(store.read_bytes(path)))


def _read_checkpoint(store: LogStore, path: str,
                     columns: Sequence[str]) -> Dict[str, list]:
    """Non-null values of the named action columns of one checkpoint
    parquet, column-pruned to those it has."""
    pf = _open_parquet(store, path)
    cols = [c for c in columns if c in pf.schema_arrow.names]
    tbl = pf.read(columns=cols) if cols else None
    return {c: tbl.column(c).drop_null().to_pylist() if c in cols else []
            for c in columns}


# Checkpoint action column -> the field a real action of that kind has.
_STATE_COLUMNS = {"protocol": "minReaderVersion", "metaData": "id",
                  "txn": "appId", "domainMetadata": "domain"}


@dataclass
class LogState:
    """Protocol, metadata, last SetTransaction version per appId
    (InMemoryLogReplay.scala:56-57) and active metadata domains (Delta
    protocol 'Domain Metadata': latest action per domain wins, a
    ``removed`` action hides the domain) at one version."""
    protocol: Optional[Protocol] = None
    metadata: Optional[Metadata] = None
    txns: Dict[str, int] = field(default_factory=dict)
    domains: Dict[str, str] = field(default_factory=dict)

    def advanced(self, commits: Iterable[Tuple[int, Sequence]]
                 ) -> "LogState":
        """A copy advanced over ``commits``: (version, actions) pairs in
        ascending version order."""
        st = LogState(self.protocol, self.metadata, dict(self.txns),
                      dict(self.domains))
        for _v, actions in commits:
            for a in actions:
                if isinstance(a, Protocol):
                    st.protocol = a
                elif isinstance(a, Metadata):
                    st.metadata = a
                elif isinstance(a, SetTransaction):
                    st.txns[a.appId] = a.version
                elif isinstance(a, DomainMetadata):
                    if a.removed:
                        st.domains.pop(a.domain, None)
                    else:
                        st.domains[a.domain] = a.configuration
        return st

    def checked(self, table_path: str, version: int) -> "LogState":
        if self.protocol is None or self.metadata is None:
            raise ValueError(
                f"Delta log at {table_path} has no protocol/metadata "
                f"(version {version})")
        # W9 extended: the reference gates read <= 1 (assertProtocolRead);
        # this engine additionally implements reader 2 (column mapping)
        # and reader 3 with features {columnMapping, deletionVectors}
        # (log/features.py) so its own opt-in protocol upgrades stay
        # readable. Anything beyond still fails loudly.
        assert_readable(self.protocol, table_path)
        return self


def parse_deltas(store: LogStore, segment: LogSegment
                 ) -> List[Tuple[int, List]]:
    """(version, actions) of every commit file in ``segment``."""
    return [(_commit_version(p), read_commit(store, p))
            for p in segment.deltas]


def _v2_sidecar_paths(store: LogStore, segment: LogSegment,
                      manifest: str) -> List[str]:
    """Absolute paths of a v2 manifest's sidecar parquets (a column-
    pruned read — the manifest is O(sidecars) rows)."""
    return [fn.sidecar_file(segment.log_path, sc["path"])
            for sc in _read_checkpoint(store, manifest,
                                       ("sidecar",))["sidecar"]
            if sc.get("path")]


def replay_log_state(store: LogStore, segment: LogSegment, deltas,
                     table_path: str) -> LogState:
    """P&M, txns and domains at ``segment.version``: one pass over the
    checkpoint's small columns (one pruned read per checkpoint file),
    then over the parsed commits ``deltas``."""
    ckpt = []
    for cf in segment.checkpoint_files:
        for key, rows in _read_checkpoint(store, cf,
                                          _STATE_COLUMNS).items():
            for d in rows:
                if d.get(_STATE_COLUMNS[key]) is None:
                    continue
                if key == "metaData":
                    fmt = d.get("format") or {}
                    d = dict(d, configuration=_map(d.get("configuration")),
                             format=dict(fmt,
                                         options=_map(fmt.get("options"))))
                ckpt.append(parse_action(key, d))
    return (LogState().advanced([(segment.checkpoint_version, ckpt)]
                                + list(deltas))
            .checked(table_path, segment.version))


# Rows per record batch of the checkpoint fold: a batch's Python dicts
# are freed before the next is decoded, so peak memory tracks the
# planes, not the checkpoint's decoded columns.
FOLD_BATCH_ROWS = 8192


def _pylist(arr) -> list:
    """``arr.to_pylist()``, but with maps as dicts, and converted child
    by child: pyarrow's row-by-row conversion of struct and map columns
    is the slow part of a cold load (the ``add`` column of 200 k
    AddFiles: 9.3 s, against 2.7 s this way)."""
    import pyarrow as pa
    if pa.types.is_struct(arr.type):
        names = [f.name for f in arr.type]
        rows = [dict(zip(names, v))
                for v in zip(*[_pylist(c) for c in arr.flatten()])]
    elif pa.types.is_map(arr.type):
        # a sliced map's offsets index its whole, unsliced children
        offs = arr.offsets.to_pylist()
        keys, items = _pylist(arr.keys), _pylist(arr.items)
        rows = [dict(zip(keys[i:j], items[i:j]))
                for i, j in zip(offs, offs[1:])]
    else:
        return arr.to_pylist()
    if arr.null_count:
        rows = [r if ok else None
                for r, ok in zip(rows, arr.is_valid().to_pylist())]
    return rows


def replay_planes(store: LogStore, segment: LogSegment, deltas,
                  table_path: str) -> Tuple[List[Row], List[Row]]:
    """(file rows, tombstone rows) at ``segment.version`` by the driver
    fold, the one log replay: the checkpoint's ``remove`` and then its
    ``add`` column, one record batch at a time from every checkpoint
    file (classic single- or multi-part, or a v2 manifest's sidecars),
    then the parsed commits ``deltas``. All removes before any add
    keeps the add-beats-remove rule across batches and parts of the
    one checkpoint version. Needs no SparkSession."""
    cfiles = list(segment.checkpoint_files)
    if len(cfiles) == 1 and fn.is_v2_checkpoint_file(cfiles[0]):
        cfiles += _v2_sidecar_paths(store, segment, cfiles[0])
    files: Dict[str, Row] = {}
    tombs: Dict[str, Row] = {}
    parquets = [_open_parquet(store, cf) for cf in cfiles]
    for kind in ("remove", "add"):
        for pf in parquets:
            if kind not in pf.schema_arrow.names:
                continue
            for batch in pf.iter_batches(batch_size=FOLD_BATCH_ROWS,
                                         columns=[kind]):
                acts = [d for d in _pylist(batch.column(0).drop_null())
                        if d["path"] is not None]
                fold_file_actions(files, tombs, segment.checkpoint_version,
                                  acts if kind == "add" else [],
                                  acts if kind == "remove" else [],
                                  table_path)
    for v, actions in deltas:
        fold_commit(files, tombs, v, actions, table_path)
    return list(files.values()), list(tombs.values())


def addfiles_from_rows(rows: Sequence) -> List[AddFile]:
    """Inventory rows (``FILES_SCHEMA``, any subset) as AddFile actions —
    the bridge from the file inventory to the action list a commit
    must enumerate."""
    out = []
    for r in rows:
        # by name through one dict: a fold row's ``__fields__`` is a Row
        # of names, whose ``in`` test raises and catches inside pyspark
        # (about 12 us a test)
        d = dict(zip(r.__fields__, r))
        out.append(AddFile(
            path=d["path"],
            partitionValues=dict(d["partitionValues"] or {}),
            size=d["size"] or 0,
            modificationTime=d["modificationTime"] or 0,
            dataChange=bool(d["dataChange"])
            if d["dataChange"] is not None else True,
            stats=d["stats"],
            tags=dict(d["tags"]) if d["tags"] else None,
            baseRowId=d.get("baseRowId"),
            defaultRowCommitVersion=d.get("defaultRowCommitVersion")))
    return out


# Physical column names for MATERIALIZED row ids (Delta protocol 'Row
# Tracking': rewriting operations persist each row's id / commit
# version into the data files so they survive the rewrite; files
# written by plain appends don't carry them and fall back to the fresh
# baseRowId + row_index form). The PER-TABLE names live in metadata
# configuration (spec: delta.rowTracking.materializedRowIdColumnName /
# materializedRowCommitVersionColumnName) so FOREIGN Delta clients can
# find the materialized columns after a rewrite; these module values
# are only the fallback for tables written before the keys existed.
MATERIALIZED_ROW_ID_COL = "_rt_row_id"
MATERIALIZED_ROW_COMMIT_COL = "_rt_row_commit_version"
RT_RID_NAME_KEY = "delta.rowTracking.materializedRowIdColumnName"
RT_RCV_NAME_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"


def materialized_rt_cols(meta) -> tuple:
    """(row-id, row-commit-version) PHYSICAL column names for this
    table, from the Row Tracking spec's metadata properties (recorded
    at enablement, txn.py); legacy engine defaults when absent."""
    conf = meta.configuration or {}
    return (conf.get(RT_RID_NAME_KEY, MATERIALIZED_ROW_ID_COL),
            conf.get(RT_RCV_NAME_KEY, MATERIALIZED_ROW_COMMIT_COL))


class Snapshot:
    """Immutable view of the table at ``segment.version``."""

    # the driver state ``seed_from`` carries from one Snapshot to the next
    SEEDED = ("_log_state", "_files_rows", "_tombstone_rows")

    def __init__(self, spark: SparkSession, table_path: str,
                 segment: LogSegment, store: LogStore):
        self.spark = spark
        self.table_path = strip_scheme(table_path).rstrip("/")
        self.segment = segment
        self.store = store

    @property
    def version(self) -> int:
        return self.segment.version

    # ------------------------------------------------------------------
    # The parsed log and its small state
    # ------------------------------------------------------------------

    @cached_property
    def _deltas(self) -> List[Tuple[int, List]]:
        """The segment's parsed commits, shared by every driver-side
        consumer."""
        return parse_deltas(self.store, self.segment)

    @cached_property
    def _log_state(self) -> LogState:
        return replay_log_state(self.store, self.segment, self._deltas,
                                self.table_path)

    @property
    def protocol(self) -> Protocol:
        return self._log_state.protocol

    @property
    def metadata(self) -> Metadata:
        return self._log_state.metadata

    @property
    def set_transactions(self) -> Dict[str, int]:
        """Last SetTransaction version per appId (InMemoryLogReplay.scala:56-57)."""
        return dict(self._log_state.txns)

    def txn_version(self, app_id: str) -> int:
        return self._log_state.txns.get(app_id, -1)

    @property
    def domain_metadata(self) -> Dict[str, str]:
        """Active metadata domains: ``domain -> configuration``."""
        return dict(self._log_state.domains)

    def seed_from(self, prev: "Snapshot",
                  tail: Sequence[Tuple[int, List]]) -> None:
        """Incremental state update (delta-spark's incremental
        InMemoryLogReplay): carry forward the driver state ``prev``
        already holds — log state and file planes — advanced over
        ``tail``, the commits (version, actions) after ``prev`` up to
        this Snapshot. No checkpoint read, no Spark job. Valid across a
        checkpoint boundary: commits are immutable, so ``prev``'s state
        plus the commits after it IS the state here."""
        have = prev.__dict__
        if "_log_state" in have:
            self.__dict__["_log_state"] = (have["_log_state"].advanced(tail)
                                           .checked(self.table_path,
                                                    self.version))
        planes = [k for k in ("_files_rows", "_tombstone_rows") if k in have]
        if not (planes and tail):
            for k in planes:
                self.__dict__[k] = have[k]
            return
        state = {k: {r["path"]: r for r in have.get(k, ())}
                 for k in ("_files_rows", "_tombstone_rows")}
        for v, actions in tail:
            fold_commit(state["_files_rows"], state["_tombstone_rows"], v,
                        actions, self.table_path)
        for k in planes:
            self.__dict__[k] = list(state[k].values())

    # ------------------------------------------------------------------
    # State reconstruction: the driver fold
    # ------------------------------------------------------------------

    def tombstone_horizon(self) -> int:
        """Epoch ms at or before which a tombstone has expired: now minus
        the table's ``delta.deletedFileRetentionDuration``
        (DeltaLogImpl.scala:64-72)."""
        return (int(time.time() * 1000)
                - TableConfig(self.metadata.configuration)
                .tombstone_retention_ms)

    def retained_tombstone_rows(self, min_ts: int) -> List:
        """The tombstone plane's rows with ``deletionTimestamp > min_ts``.
        A checkpoint keeps the rows past ``tombstone_horizon()``
        (InMemoryLogReplay.getTombstones); VACUUM calls this with its
        own horizon: these paths (and their
        DV sidecars, via ``tags``) are protected state — the files they
        name must survive until the retention window passes
        (InMemoryLogReplay.scala:90-92; delta-spark's VACUUM protects
        by deletionTimestamp, not mtime)."""
        return [r for r in self._tombstone_rows
                if (r["deletionTimestamp"] or 0) > min_ts]

    @cached_property
    def _fold(self) -> Tuple[List, List]:
        """(file rows, tombstone rows) by the driver fold, computed once
        for both planes."""
        return replay_planes(self.store, self.segment, self._deltas,
                             self.table_path)

    @cached_property
    def _files_rows(self) -> List:
        """The active-file plane, materialized once per Snapshot and
        shared by every metadata consumer (``to_df``, DML file scoping,
        scans, ``all_files``, checkpoints). Driver memory is O(active
        files), like the reference's in-memory state; a new version gets
        a new Snapshot and the old rows are freed with it."""
        return self._fold[0]

    @cached_property
    def _tombstone_rows(self) -> List:
        """All latest-per-path tombstones (no horizon), materialized
        once per Snapshot — the tombstone twin of ``_files_rows``."""
        return self._fold[1]

    @cached_property
    def _inventory(self):
        """``_files_rows`` in columns for the file pruner (scan.py), built
        once per Snapshot."""
        from ..scan import Inventory
        return Inventory(self._files_rows, self.metadata)

    @cached_property
    def files_local_df(self) -> DataFrame:
        """The active-file plane as a driver-local relation over
        ``_files_rows`` (``FILES_SCHEMA``), for ``metadata_aggregates``,
        which returns a DataFrame over the inventory; perfbench's tracer
        wraps it by name. Scans never use it. The JVM decodes it from
        Arrow, so no job over it starts a Python worker."""
        from ..localrel import local_rows_df
        return local_rows_df(self.spark, self._files_rows, FILES_SCHEMA)

    def all_files(self) -> List[AddFile]:
        """Every active file as an AddFile: the removes of whole-table
        commits (overwrite, unconditional DELETE), the row-tracking
        backfill, maintenance ops that pick files by a field, and tests.
        DML paths that touch a subset take a pruned scan's rows
        (scan.py)."""
        return addfiles_from_rows(self._files_rows)

    # ------------------------------------------------------------------
    # Aggregates over state (A1)
    # ------------------------------------------------------------------

    def state_summary(self) -> Dict[str, int]:
        rows = self._files_rows
        return {"sizeInBytes": sum(r["size"] or 0 for r in rows),
                "numOfFiles": len(rows)}

    # ------------------------------------------------------------------
    # Data read (S7)
    # ------------------------------------------------------------------

    def _hive_layout_ok(self, paths: Sequence[str],
                        pvs: Sequence[Dict[str, Optional[str]]]) -> bool:
        """True iff every active file's directory layout encodes exactly the
        partition values recorded in the log, so Spark's own partition-dir
        discovery (basePath) is safe. Escaped-chars fidelity: we compare the
        DECODED dir value against the log value and fall back on mismatch
        (golden scenario data-reader-escaped-chars)."""
        # dir names and partitionValues keys live in the PHYSICAL name
        # domain under column mapping (identity when mode=none)
        pcols = self.metadata.physical_partition_columns
        for p, pv in zip(paths, pvs):
            # absolute-path adds (shallow clones) live outside the root:
            # basePath-relative partition discovery cannot see them
            if not p.startswith(self.table_path + "/"):
                return False
            rel = p[len(self.table_path):].lstrip("/")
            segs = rel.split("/")[:-1]
            if len(segs) < len(pcols):
                return False
            segs = segs[-len(pcols):] if pcols else []
            for col, seg in zip(pcols, segs):
                if "=" not in seg:
                    return False
                k, v = seg.split("=", 1)
                if k != col:
                    return False
                decoded = urllib.parse.unquote(v)
                want = (pv or {}).get(col)
                if want is None:
                    if decoded != "__HIVE_DEFAULT_PARTITION__":
                        return False
                elif decoded != want:
                    return False
        return True

    def read_files(self, files: Sequence,
                   versions: Optional[Sequence[int]] = None,
                   extra_fields: Sequence[T.StructField] = (),
                   with_file: bool = False, with_row_index: bool = False,
                   with_row_ids: bool = False) -> DataFrame:
        """The one file-scan core: the rows of the Delta data files
        ``files`` (inventory rows, or log actions whose ``path`` is
        already physical), read by one rule for snapshot reads and both
        change feeds. ``versions``, parallel to ``files``, tags each
        file with a commit version; a change feed may list one file at
        several versions.

        Columns: the logical columns in schema order, then
        ``extra_fields`` (read from the files as written, e.g. a cdc
        file's ``_change_type``), then on request ``__file`` (the
        canonical path of the row's file), ``__ri`` (its physical index
        in that file), ``_commit_version`` (iff ``versions``) and
        ``_row_id``/``_row_commit_version``.

        - Each file's status (path, size, modification time) comes
          from its action in the log, so Spark lists nothing: no stat,
          no listing job (``fileindex.parquet_relation``). Only a file
          whose action has no size (such as a RemoveFile without
          ``extendedFileMetadata``) is stat'ed.
        - ``__file`` and ``__ri`` come from the scan's ``_metadata``
          columns, which unlike ``input_file_name()`` stay legal once
          the plan joins other sources.
        - The log-side per-file columns (partition values,
          ``_commit_version``, ``baseRowId``, ``defaultRowCommitVersion``)
          come from ONE broadcast map per scan, keyed on ``__file``; a
          file listed at several versions fans out to each. No map is
          built when no such column is needed, or when only partition
          values are and the on-disk layout provably agrees with the
          log (``_hive_layout_ok``): Spark's partition discovery under
          ``basePath`` reads them then, and prunes natively.
        - Files carrying a deletion vector are scanned apart from plain
          files and lose their deleted rows through one anti-join on
          ``(file, key, row_index)`` (``dv.dv_relation``); the key is
          the commit version, or a constant for snapshot reads. A DV
          never renumbers the surviving rows' physical indexes.
        - ``_row_id = coalesce(materialized, baseRowId + __ri)`` and
          ``_row_commit_version = coalesce(materialized,
          defaultRowCommitVersion)``; a rewrite under row tracking
          writes the materialized columns, and files without them read
          NULL there."""
        from ..dv import DV_TAG, apply_dv, dv_relation
        from ..fileindex import parquet_relation
        from ..localrel import local_rows_df
        meta = self.metadata
        tagged = versions is not None
        tail = list(extra_fields) + [
            T.StructField(name, dtype) for name, dtype, wanted in (
                ("__file", T.StringType(), with_file),
                ("__ri", T.LongType(), with_row_index),
                ("_commit_version", T.LongType(), tagged),
                ("_row_id", T.LongType(), with_row_ids),
                ("_row_commit_version", T.LongType(), with_row_ids))
            if wanted]
        if not files:
            return local_rows_df(
                self.spark, [], T.StructType(meta.schema.fields + tail))
        # physical -> logical rename happens HERE, the one boundary
        # between the file plane and the table contract (identity when
        # column mapping is off); the projection also restores schema
        # order, since the file source appends partition columns
        nmap = meta.name_map()
        out_cols = ([F.col(nmap[f.name]).alias(f.name)
                     for f in meta.schema.fields]
                    + [F.col(f.name) for f in tail])
        pcols = meta.physical_partition_columns
        rid_c, rcv_c = materialized_rt_cols(meta)
        map_schema = T.StructType(
            [T.StructField("__file", T.StringType()),
             T.StructField("_commit_version", T.LongType()),
             T.StructField("__base", T.LongType()),
             T.StructField("__dcv", T.LongType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols])
        map_cols = ([F.col("__file")]
                    + ([F.col("_commit_version")] if tagged else [])
                    + ([F.col("__base"), F.col("__dcv")]
                       if with_row_ids else [])
                    + [F.col(f"__pv_{f.name}").cast(f.dataType).alias(f.name)
                       for f in meta.physical_partition_schema.fields])

        def dv_of(f):
            return (getattr(f, "tags", None) or {}).get(DV_TAG)

        entries = list(zip(files, versions if tagged else [0] * len(files)))
        out = None
        for has_dv in (False, True):
            group = [(f, v) for f, v in entries if bool(dv_of(f)) == has_dv]
            if not group:
                continue
            use_map = tagged or with_row_ids or (
                bool(pcols) and not self._hive_layout_ok(
                    [f.path for f, _ in group],
                    [f.partitionValues for f, _ in group]))
            base_path = bool(pcols) and not use_map
            fields = meta.physical_data_schema.fields + list(extra_fields)
            if with_row_ids:
                fields += [T.StructField(rid_c, T.LongType()),
                           T.StructField(rcv_c, T.LongType())]
            df = parquet_relation(
                self.spark,
                [(f.path, getattr(f, "size", None),
                  getattr(f, "modificationTime", None) or 0)
                 for f, _ in group],
                T.StructType(fields),
                meta.physical_partition_schema if base_path else None,
                self.table_path if base_path else None)
            if with_row_index or with_row_ids or has_dv:
                df = df.withColumn("__ri", F.col("_metadata.row_index"))
            if with_file or use_map or has_dv:
                df = (df.withColumn("__fn", F.col("_metadata.file_path"))
                      .withColumn("__file", canonical_path_col(
                          "__fn", self.table_path))
                      .drop("__fn"))
            if use_map:
                fmap = local_rows_df(
                    self.spark,
                    [(f.path, v, getattr(f, "baseRowId", None),
                      getattr(f, "defaultRowCommitVersion", None),
                      *[(f.partitionValues or {}).get(c) for c in pcols])
                     for f, v in group], map_schema)
                df = df.join(F.broadcast(fmap.select(*map_cols)), "__file")
            if has_dv:
                dv = dv_relation(self.spark, self.table_path, sorted(
                    {(f.path, dv_of(f), v) for f, v in group}))
                df = apply_dv(df, dv, F.col("_commit_version") if tagged
                              else F.lit(0))
            if with_row_ids:
                df = (df.withColumn("_row_id", F.coalesce(
                          F.col(rid_c), F.col("__base") + F.col("__ri")))
                      .withColumn("_row_commit_version", F.coalesce(
                          F.col(rcv_c), F.col("__dcv"))))
            df = df.select(*out_cols)
            out = df if out is None else out.unionByName(df)
        return out

    def to_df(self, files: Optional[Sequence] = None,
              residual=None, with_file_col: bool = False,
              with_row_ids: bool = False,
              with_row_index: bool = False) -> DataFrame:
        """DataFrame of table rows for the active files, or for
        ``files`` (inventory rows, e.g. a pruned scan's, or AddFiles
        whose path is physical), filtered by ``residual``.

        Reads through :meth:`read_files`, which states the rules:
        partition values from the log, deletion vectors applied,
        ``with_file_col`` keeps ``__file``, ``with_row_index`` keeps
        ``__ri`` (a DV delete records it) and ``with_row_ids`` appends
        ``_row_id``/``_row_commit_version``."""
        df = self.read_files(self._files_rows if files is None else files,
                             with_file=with_file_col,
                             with_row_index=with_row_index,
                             with_row_ids=with_row_ids)
        return df.where(residual) if residual is not None else df
