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
``txn.relativize`` is the way back: it encodes a physical path for the
log.

State. Table state is one replay of checkpoint plus commits, keyed by
canonical path: the newest action wins, and within one version an add
beats a remove (InMemoryLogReplay.scala:64-81). The replay yields two
planes: active files (latest action an add) and tombstones (latest
action a remove). It has two implementations, pinned equal by tests:

- the window plan (``_latest_actions_df``): one distributed window over
  add ∪ remove. It is the scale path, taken for v2 or multi-part
  checkpoints, non-POSIX stores and checkpoints larger than
  ``DRIVER_REPLAY_MAX_CHECKPOINT_BYTES``;
- the driver fold (:func:`fold_file_actions`), everywhere else. A cold
  Snapshot reads the checkpoint's ``add`` and ``remove`` columns once
  and folds the commits after it on top; ``DeltaLog.update`` folds the
  new commits over the previous Snapshot's planes. The streaming
  source, which has no SparkSession, folds every checkpoint shape.

Protocol, metadata, SetTransactions and domain metadata
(:class:`LogState`) come from the same parsed commits plus one
column-pruned read of the checkpoint, and advance the same incremental
way. A Snapshot parses each of its commit files once (``_deltas``).

Table data is read with ``spark.read.parquet`` over the active files.
Partition values come from ``AddFile.partitionValues``, never from
paths (DeltaInputFormat.scala:33-53): through Spark's partition-dir
discovery when the layout provably agrees with the log, else through a
broadcast path->values join.
"""

from __future__ import annotations

import os
import re
import time
import urllib.parse
from dataclasses import dataclass, field
from functools import cached_property
from typing import Dict, Iterable, List, Mapping, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import filenames as fn
from .actions import (SINGLE_ACTION_SCHEMA, AddFile, DomainMetadata,
                      Metadata, Protocol, RemoveFile, SetTransaction,
                      from_json_line, parse_action)
from .features import assert_readable
from .logstore import LogStore, strip_scheme
from .segment import LogSegment

# The driver fold replays a segment only when its checkpoint is one
# classic parquet of at most this size; larger state takes the window
# plan, whose parsing and dedup run on executors.
DRIVER_REPLAY_MAX_CHECKPOINT_BYTES = 64 * 1024 * 1024

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


# The two planes' row shapes. Driver-side rows and the window plan's
# output share them field for field, so the two replays are
# interchangeable and rows re-enter Spark as local relations.
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
    one version an add beats a remove of the same path (the window
    plan's ``is_add`` tiebreak), so a remove applies only to paths the
    version does not re-add."""
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


def _read_checkpoint(path: str, columns: Sequence[str]) -> Dict[str, list]:
    """Non-null values of the named action columns of one checkpoint
    parquet, column-pruned to those it has — one pyarrow read."""
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(path)
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


def _v2_sidecar_paths(segment: LogSegment, manifest: str) -> List[str]:
    """Absolute paths of a v2 manifest's sidecar parquets (driver-
    side column-pruned read — the manifest is O(sidecars) rows)."""
    return [fn.sidecar_file(segment.log_path, sc["path"])
            for sc in _read_checkpoint(manifest, ("sidecar",))["sidecar"]
            if sc.get("path")]


def replay_log_state(segment: LogSegment, deltas, table_path: str
                     ) -> LogState:
    """P&M, txns and domains at ``segment.version``: one pass over the
    checkpoint's small columns (one pruned read per checkpoint file),
    then over the parsed commits ``deltas``."""
    ckpt = []
    for cf in segment.checkpoint_files:
        for key, rows in _read_checkpoint(cf, _STATE_COLUMNS).items():
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


def replay_planes(segment: LogSegment, deltas, table_path: str
                  ) -> Tuple[List[Row], List[Row]]:
    """(file rows, tombstone rows) at ``segment.version`` by the driver
    fold: the checkpoint's ``add`` and ``remove`` columns (v2 sidecars
    included) in one pyarrow read per file, then the parsed commits
    ``deltas``. Needs no SparkSession."""
    cfiles = list(segment.checkpoint_files)
    if len(cfiles) == 1 and fn.is_v2_checkpoint_file(cfiles[0]):
        cfiles += _v2_sidecar_paths(segment, cfiles[0])
    files: Dict[str, Row] = {}
    tombs: Dict[str, Row] = {}
    for cf in cfiles:
        cols = _read_checkpoint(cf, ("add", "remove"))
        fold_file_actions(
            files, tombs, segment.checkpoint_version,
            [d for d in cols["add"] if d.get("path") is not None],
            [d for d in cols["remove"] if d.get("path") is not None],
            table_path)
    for v, actions in deltas:
        fold_commit(files, tombs, v, actions, table_path)
    return list(files.values()), list(tombs.values())


def addfiles_from_rows(rows: Sequence) -> List[AddFile]:
    """Materialize ``files_df`` rows (any filtered subset) as AddFile
    actions — the bridge from the DataFrame file inventory to the
    driver-side action list a commit must enumerate."""
    return [AddFile(path=r["path"],
                    partitionValues=dict(r["partitionValues"] or {}),
                    size=r["size"] or 0,
                    modificationTime=r["modificationTime"] or 0,
                    dataChange=bool(r["dataChange"])
                    if r["dataChange"] is not None else True,
                    stats=r["stats"],
                    tags=dict(r["tags"]) if r["tags"] else None,
                    baseRowId=(r["baseRowId"]
                               if "baseRowId" in r.__fields__ else None),
                    defaultRowCommitVersion=(
                        r["defaultRowCommitVersion"]
                        if "defaultRowCommitVersion" in r.__fields__
                        else None))
            for r in rows]


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


def _with_rt_fields(schema: T.StructType, rid: str,
                    rcv: str) -> T.StructType:
    """Read schema + the two nullable materialized-row-id columns —
    files that lack them scan as NULL (parquet schema evolution), which
    is exactly the fresh-row-id fallback condition."""
    return T.StructType(
        list(schema.fields)
        + [T.StructField(rid, T.LongType()),
           T.StructField(rcv, T.LongType())])



class Snapshot:
    """Immutable view of the table at ``segment.version``."""

    # the driver state ``seed_from`` carries from one Snapshot to the next
    SEEDED = ("_log_state", "_files_rows", "_tombstone_rows")

    def __init__(self, spark: SparkSession, table_path: str,
                 segment: LogSegment, store: LogStore,
                 min_file_retention_ts: Optional[int] = None):
        self.spark = spark
        self.table_path = strip_scheme(table_path).rstrip("/")
        self.segment = segment
        self.store = store
        self._min_file_retention_ts = min_file_retention_ts

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
        return replay_log_state(self.segment, self._deltas, self.table_path)

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
    # Actions DataFrame (S2: checkpoint + delta load)
    # ------------------------------------------------------------------

    def _conform(self, df: DataFrame) -> DataFrame:
        """Project any actions-shaped DataFrame (e.g. a checkpoint written by
        another engine with extra nested fields) onto SINGLE_ACTION_SCHEMA."""
        cols = []
        have = {f.name: f.dataType for f in df.schema.fields}
        for f in SINGLE_ACTION_SCHEMA.fields:
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                continue
            sub = have[f.name]
            if isinstance(sub, T.StructType):
                subnames = set(sub.names)
                inner = [
                    (F.col(f"{f.name}.{sf.name}").cast(sf.dataType)
                     if sf.name in subnames else F.lit(None).cast(sf.dataType)
                     ).alias(sf.name)
                    for sf in f.dataType.fields
                ]
                cols.append(F.when(F.col(f.name).isNotNull(),
                                   F.struct(*inner)).alias(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        extra = [c for c in ("version", "is_checkpoint") if c in df.columns]
        return df.select(*cols, *extra)

    def actions_df(self) -> DataFrame:
        """All actions of the segment with ``version`` and ``is_checkpoint``
        columns. Executors parse the files in parallel (the reference's
        ParVector load, SnapshotImpl.scala:248-293, for free)."""
        parts = []
        if self.segment.deltas:
            # A compacted file (<start>.<end>.compacted.json) carries
            # NET actions — at most one per path — so attributing its
            # rows the range-END version preserves the window-dedup
            # ordering exactly (no intra-range ties can exist).
            comp_v = F.regexp_extract(F.input_file_name(),
                                      r"\d+\.(\d+)\.compacted\.json", 1)
            plain_v = F.regexp_extract(F.input_file_name(),
                                       r"(\d+)\.json", 1)
            d = (self.spark.read.json(list(self.segment.deltas),
                                      schema=SINGLE_ACTION_SCHEMA)
                 .withColumn("version",
                             F.when(comp_v != "", comp_v)
                             .otherwise(plain_v).cast("long"))
                 .withColumn("is_checkpoint", F.lit(False)))
            parts.append(self._conform(d))
        if self.segment.checkpoint_files:
            cfiles = list(self.segment.checkpoint_files)
            if len(cfiles) == 1 and fn.is_v2_checkpoint_file(cfiles[0]):
                # V2 checkpoint: the manifest carries P&M/txn/domain +
                # SidecarFile references; add/remove state lives in the
                # sidecar parquets. One explicit-schema read over
                # manifest + sidecars (per-file missing columns scan as
                # NULL) reconstructs the classic action set.
                cfiles = cfiles + _v2_sidecar_paths(self.segment, cfiles[0])
                c = (self.spark.read.schema(SINGLE_ACTION_SCHEMA)
                     .parquet(*cfiles)
                     .withColumn("version",
                                 F.lit(self.segment.checkpoint_version)
                                 .cast("long"))
                     .withColumn("is_checkpoint", F.lit(True)))
            else:
                c = (self.spark.read.parquet(*cfiles)
                     .withColumn("version",
                                 F.lit(self.segment.checkpoint_version)
                                 .cast("long"))
                     .withColumn("is_checkpoint", F.lit(True)))
            parts.append(self._conform(c))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------------------------
    # State reconstruction: the window plan and the driver fold
    # ------------------------------------------------------------------

    @cached_property
    def _latest_actions_df(self) -> DataFrame:
        """The window plan: the latest add or remove per canonical path
        (version desc, an add before a remove at one version). Its
        ``is_add`` rows are the file plane, the rest the tombstone
        plane. Scales to checkpoints with millions of AddFiles: the
        shuffle is on ``path`` (unique, unskewed) and Parquet/JSON
        parsing happens on executors."""
        acts = self.actions_df()
        fields = [f for f in FILES_SCHEMA.fields + TOMBSTONES_SCHEMA.fields
                  if f.name not in ("path", "version")]
        fields = list({f.name: f for f in fields}.values())

        def leg(kind):
            names = SINGLE_ACTION_SCHEMA[kind].dataType.names
            return acts.where(F.col(f"{kind}.path").isNotNull()).select(
                canonical_path_col(f"{kind}.path", self.table_path)
                .alias("path"),
                *[(F.col(f"{kind}.{f.name}") if f.name in names
                   else F.lit(None).cast(f.dataType)).alias(f.name)
                  for f in fields],
                "version", F.lit(kind == "add").alias("is_add"))

        w = Window.partitionBy("path").orderBy(F.desc("version"),
                                               F.desc("is_add"))
        return (leg("add").unionByName(leg("remove"))
                .withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1).drop("__rn"))

    @cached_property
    def files_df(self) -> DataFrame:
        """Active AddFiles as a distributed DataFrame (``FILES_SCHEMA``,
        ``path`` physical) — the window plan's file plane."""
        return (self._latest_actions_df.where(F.col("is_add"))
                .select(*FILES_SCHEMA.names))

    def _tombstones_window_df(self) -> DataFrame:
        """All latest-per-path tombstones, unfiltered — the window
        plan's tombstone plane."""
        return (self._latest_actions_df.where(~F.col("is_add"))
                .select(*TOMBSTONES_SCHEMA.names))

    @cached_property
    def tombstones_df(self) -> DataFrame:
        """RemoveFile tombstones younger than the retention window
        (InMemoryLogReplay.getTombstones, InMemoryLogReplay.scala:90-92)."""
        min_ts = self._min_file_retention_ts
        if min_ts is None:
            min_ts = int(time.time() * 1000) - 7 * 24 * 3600 * 1000
        return self.retained_tombstones(min_ts)

    def retained_tombstones(self, min_ts: int) -> DataFrame:
        """Latest-per-path RemoveFile tombstones with
        ``deletionTimestamp > min_ts``. VACUUM calls this with its own
        horizon: these paths (and their DV sidecars, via ``tags``) are
        protected state — the files they name must survive until the
        retention window passes (InMemoryLogReplay.scala:90-92;
        delta-spark's VACUUM protects by deletionTimestamp, not mtime).

        When the tombstone plane is already materialized, the horizon
        filter runs driver-side over the cached rows and the result is
        a local relation; otherwise the window plan runs."""
        if "_tombstone_rows" in self.__dict__:
            from ..localrel import local_rows_df
            rows = [r for r in self._tombstone_rows
                    if (r["deletionTimestamp"] or 0) > min_ts]
            return local_rows_df(self.spark, rows, TOMBSTONES_SCHEMA)
        return (self._tombstones_window_df()
                .where(F.coalesce(F.col("deletionTimestamp"),
                                  F.lit(0)) > min_ts))

    def _driver_replayable(self) -> bool:
        """True when the driver fold may replay this segment: a POSIX
        store and at most one classic checkpoint of at most
        ``DRIVER_REPLAY_MAX_CHECKPOINT_BYTES``."""
        cfiles = self.segment.checkpoint_files
        if type(self.store) is not LogStore or len(cfiles) > 1:
            return False
        if not cfiles:
            return True
        if fn.is_v2_checkpoint_file(cfiles[0]):
            return False
        try:
            return (os.path.getsize(cfiles[0])
                    <= DRIVER_REPLAY_MAX_CHECKPOINT_BYTES)
        except OSError:
            return False

    @cached_property
    def _fold(self) -> Tuple[List, List]:
        """(file rows, tombstone rows) by the driver fold, computed once
        for both planes."""
        return replay_planes(self.segment, self._deltas, self.table_path)

    @cached_property
    def _files_rows(self) -> List:
        """The active-file plane, materialized once per Snapshot and
        shared by every metadata consumer (``to_df``, DML file scoping,
        scans, ``all_files``). Driver memory is O(active files), like
        the reference's in-memory state; a new version gets a new
        Snapshot and the old rows are freed with it."""
        if not self._driver_replayable():
            return self.files_df.collect()
        return self._fold[0]

    @cached_property
    def _tombstone_rows(self) -> List:
        """All latest-per-path tombstones (no horizon), materialized
        once per Snapshot — the tombstone twin of ``_files_rows``."""
        if not self._driver_replayable():
            return self._tombstones_window_df().collect()
        return self._fold[1]

    @cached_property
    def files_local_df(self) -> DataFrame:
        """``files_df`` as a driver-local relation over the materialized
        inventory (same schema/rows). Metadata-plane filters and joins
        (scan pruning, DML file scoping) run against this instead of
        re-running the log replay; the distributed ``files_df`` plan
        remains for genuinely distributed consumers (checkpoint
        writes). ``localCheckpoint`` materializes the rows as JVM
        InternalRows once — a bare ``createDataFrame`` from Python rows
        keeps an ``applySchemaToPythonRDD`` step that round-trips
        through a Python worker on EVERY action over the relation
        (measured ~0.5 s/job at bench scale); after the checkpoint each
        consumer job scans plain JVM rows. Freed by the ContextCleaner
        with the Snapshot."""
        from ..localrel import local_rows_df
        return (local_rows_df(self.spark, self._files_rows, FILES_SCHEMA)
                .localCheckpoint(eager=True))

    def all_files(self) -> List[AddFile]:
        """Collect active files to the driver. Only for callers whose
        COMMIT must enumerate every file anyway (whole-table overwrite/
        delete removes, clone, restore) and tests — DML paths that touch
        a subset should filter ``files_df`` and collect just that subset
        (see ``addfiles_from_rows``)."""
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

    def _attach_partition_values(self, data: DataFrame,
                                 paths: Sequence[str],
                                 pvs: Sequence[Dict[str, Optional[str]]],
                                 keep_file: bool = False) -> DataFrame:
        """Broadcast-join ``path -> partitionValues`` onto ``data`` (which
        carries a canonical ``__file`` column), decoding the log's string
        values with the partition schema's types. Drops ``__file``
        unless ``keep_file``."""
        meta = self.metadata
        pcols = meta.physical_partition_columns
        pv_rows = [tuple([p] + [pv.get(c) for c in pcols])
                   for p, pv in zip(paths, pvs)]
        pv_schema = T.StructType(
            [T.StructField("__file", T.StringType())]
            + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols])
        from ..localrel import local_rows_df
        pv_df = local_rows_df(self.spark, pv_rows, pv_schema)
        for f in meta.physical_partition_schema.fields:
            pv_df = pv_df.withColumn(
                f.name, F.col(f"__pv_{f.name}").cast(f.dataType))
        pv_df = pv_df.drop(*[f"__pv_{c}" for c in pcols])
        out = data.join(F.broadcast(pv_df), "__file")
        return out if keep_file else out.drop("__file")

    def _read_plain(self, rows: Sequence, keep_file: bool = False,
                    keep_row_index: bool = False) -> DataFrame:
        """Scan for files with no deletion vector."""
        meta = self.metadata

        def ri(df):
            # the physical per-file row position, the fresh-row-id
            # offset — must be computed INSIDE the single-source scan,
            # like __file
            if keep_row_index:
                return df.withColumn("__ri",
                                     F.col("_metadata.row_index"))
            return df

        def sch(s):
            return _with_rt_fields(s, *materialized_rt_cols(meta)) \
                if keep_row_index else s

        paths = [r["path"] for r in rows]
        pcols = meta.partitionColumns
        if not pcols:
            df = ri(self.spark.read.schema(sch(meta.physical_schema))
                    .parquet(*paths))
            return self._with_file(df) if keep_file else df
        pvs = [dict(r["partitionValues"] or {}) for r in rows]
        if self._hive_layout_ok(paths, pvs):
            df = ri(self.spark.read
                    .option("basePath", self.table_path)
                    .schema(sch(meta.physical_schema))
                    .parquet(*paths))
            return self._with_file(df) if keep_file else df
        # the scan-time file path must be normalized the same way as
        # log paths (canonical_path_col)
        data = ri(self.spark.read
                  .schema(sch(meta.physical_data_schema))
                  .parquet(*paths))
        return self._attach_partition_values(
            self._with_file(data), paths, pvs, keep_file=keep_file)

    def _with_file(self, data: DataFrame) -> DataFrame:
        """Attach the canonical per-row ``__file`` column via the
        Parquet source's ``_metadata.file_path`` — unlike
        ``input_file_name()`` it stays legal when the plan later joins
        other sources (the DV anti-join, merge's source join)."""
        return (data.withColumn("__fn", F.col("_metadata.file_path"))
                .withColumn("__file",
                            canonical_path_col("__fn", self.table_path))
                .drop("__fn"))

    def _read_with_dv(self, rows: Sequence, keep_file: bool = False,
                      keep_row_index: bool = False) -> DataFrame:
        """Scan for files carrying a deletion vector: anti-join deleted
        ``(file, row_index)`` positions via the Parquet source's hidden
        ``_metadata`` columns — one extra hash join bounded by the
        deleted-row count, no rewrite ever read. With
        ``keep_row_index`` the PHYSICAL index survives the anti-join —
        a DV delete never renumbers the remaining rows, which is what
        keeps fresh row ids stable under it."""
        from ..dv import DV_TAG, apply_dv, dv_relation
        meta = self.metadata
        paths = [r["path"] for r in rows]
        pvs = [dict(r["partitionValues"] or {}) for r in rows]
        pairs = [(r["path"], dict(r["tags"])[DV_TAG]) for r in rows]
        dv = dv_relation(self.spark, self.table_path, pairs)
        sch = _with_rt_fields(meta.physical_data_schema,
                              *materialized_rt_cols(meta)) \
            if keep_row_index else meta.physical_data_schema
        data = (self.spark.read.schema(sch)
                .parquet(*paths)
                .withColumn("__fn", F.col("_metadata.file_path"))
                .withColumn("__ri", F.col("_metadata.row_index")))
        data = data.withColumn(
            "__file", canonical_path_col("__fn", self.table_path)).drop("__fn")
        data = apply_dv(data, dv)
        if not keep_row_index:
            data = data.drop("__ri")
        if not meta.partitionColumns:
            return data if keep_file else data.drop("__file")
        return self._attach_partition_values(data, paths, pvs,
                                             keep_file=keep_file)

    def to_df(self, files=None,
              residual=None, with_file_col: bool = False,
              with_row_ids: bool = False) -> DataFrame:
        """DataFrame of table rows for the active (optionally pruned) files.

        Partition values come from the log. Fast path: when the on-disk
        layout is Hive-style and provably consistent with
        ``partitionValues``, one ``spark.read`` with ``basePath`` lets the
        Parquet source prune/prune-down natively. General path: scan with
        the data schema and broadcast-join ``path -> partitionValues``
        on ``input_file_name()`` (single scan, no per-partition plan
        explosion at 100k+ partitions). Files carrying a deletion vector
        are scanned separately with the deleted positions anti-joined
        out (dv.py). ``with_file_col=True`` keeps a canonical
        ``__file`` column per row (the file that produced it) — DML
        file-discovery needs it, and computing it here (from
        ``_metadata.file_path`` inside each single-source scan) is the
        only placement that stays legal once DV anti-joins make the
        plan multi-source."""
        from ..dv import DV_TAG
        meta = self.metadata
        want_rid = with_row_ids
        keep_file = with_file_col or want_rid
        if files is None:
            # whole-table read: reuse the per-Snapshot materialized
            # inventory instead of re-running the log replay job
            rows = self._files_rows
        elif isinstance(files, (list, tuple)):
            # already-materialized inventory rows (DML paths filter
            # the Snapshot's cached inventory driver-side) — no
            # createDataFrame → collect round trip
            rows = list(files)
        else:
            sel = ["path", "partitionValues", "tags"]
            if want_rid:
                sel += ["baseRowId", "defaultRowCommitVersion"]
            rows = files.select(*sel).collect()
        if not rows:
            df = self.spark.createDataFrame([], meta.schema)
            if with_file_col:
                df = df.withColumn("__file",
                                   F.lit(None).cast("string"))
            if want_rid:
                df = (df.withColumn("_row_id", F.lit(None).cast("long"))
                      .withColumn("_row_commit_version",
                                  F.lit(None).cast("long")))
            return df.where(residual) if residual is not None else df
        plain = [r for r in rows if not ((r["tags"] or {}).get(DV_TAG))]
        dvd = [r for r in rows if (r["tags"] or {}).get(DV_TAG)]
        parts = [self._read_plain(plain, keep_file=keep_file,
                                  keep_row_index=want_rid)] \
            if plain else []
        if dvd:
            parts.append(self._read_with_dv(dvd, keep_file=keep_file,
                                            keep_row_index=want_rid))
        # Schema-order projection: Spark's file source appends partition
        # columns after data columns; the table contract is metadata
        # schema order (Snapshot.open ≍ SnapshotImpl.scala:107-116).
        extra = [F.col("__file")] if keep_file else []
        rid_c, rcv_c = materialized_rt_cols(meta)
        if want_rid:
            extra += [F.col("__ri"), F.col(rid_c), F.col(rcv_c)]
        # physical -> logical rename happens HERE, the one boundary
        # between the file plane and the table contract (identity when
        # column mapping is off)
        nmap = meta.name_map()
        parts = [p.select(*[F.col(nmap[f.name]).alias(f.name)
                            for f in meta.schema.fields],
                          *extra)
                 for p in parts]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if want_rid:
            # per-file base map from the LOG (broadcast, O(files)):
            # row id = materialized value when the file carries one
            # (written by a rewrite), else baseRowId + physical index
            from ..localrel import local_rows_df
            bdf = local_rows_df(
                self.spark,
                [(r["path"], r["baseRowId"],
                  r["defaultRowCommitVersion"]) for r in rows],
                "__file string, __base long, __dcv long")
            df = (df.join(F.broadcast(bdf), "__file")
                  .withColumn(
                      "_row_id",
                      F.coalesce(F.col(rid_c),
                                 F.col("__base") + F.col("__ri")))
                  .withColumn(
                      "_row_commit_version",
                      F.coalesce(F.col(rcv_c), F.col("__dcv")))
                  .drop("__ri", "__base", "__dcv", rid_c, rcv_c))
            if not with_file_col:
                df = df.drop("__file")
        if residual is not None:
            df = df.where(residual)
        return df
