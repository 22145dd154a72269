"""Delta transaction-log actions: the event-sourced row types of a table.

Re-expressed from the reference's action model
(``standalone/src/main/scala/io/delta/standalone/internal/actions/actions.scala``)
as plain Python dataclasses plus an explicit PySpark schema
(``SINGLE_ACTION_SCHEMA``) so executors can parse delta JSON / checkpoint
Parquet without inference.

Wire format: one JSON object per line, each wrapped in a single-key envelope
(``{"add": {...}}``), matching ``actions.scala:339-367`` (SingleAction).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

from pyspark.sql import types as T

# Protocol versions we read/write (reference: actions.scala:31-35,63-70).
MAX_READER_VERSION = 1
MAX_WRITER_VERSION = 2


@dataclass
class Protocol:
    minReaderVersion: int = MAX_READER_VERSION
    minWriterVersion: int = MAX_WRITER_VERSION
    # Table-features lists (Delta protocol spec): present only at
    # reader >= 3 / writer >= 7 respectively. The reference stops at
    # (1, 2); these carry the engine's opt-in protocol upgrades (see
    # log/features.py).
    readerFeatures: Optional[List[str]] = None
    writerFeatures: Optional[List[str]] = None

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {
            "minReaderVersion": self.minReaderVersion,
            "minWriterVersion": self.minWriterVersion,
        }
        if self.readerFeatures is not None:
            d["readerFeatures"] = list(self.readerFeatures)
        if self.writerFeatures is not None:
            d["writerFeatures"] = list(self.writerFeatures)
        return {"protocol": d}


@dataclass
class Format:
    provider: str = "parquet"
    options: Dict[str, str] = field(default_factory=dict)


@dataclass
class Metadata:
    """Table metadata (reference: actions.scala:183-214)."""

    id: str = ""
    name: Optional[str] = None
    description: Optional[str] = None
    format: Format = field(default_factory=Format)
    schemaString: str = ""
    partitionColumns: List[str] = field(default_factory=list)
    configuration: Dict[str, str] = field(default_factory=dict)
    createdTime: Optional[int] = None

    @property
    def schema(self) -> T.StructType:
        if not self.schemaString:
            return T.StructType([])
        return T.StructType.fromJson(json.loads(self.schemaString))

    @property
    def partition_schema(self) -> T.StructType:
        s = self.schema
        by_name = {f.name: f for f in s.fields}
        return T.StructType([by_name[c] for c in self.partitionColumns])

    @property
    def data_schema(self) -> T.StructType:
        pcols = set(self.partitionColumns)
        return T.StructType([f for f in self.schema.fields if f.name not in pcols])

    # ------------------------------------------- column mapping (name mode)
    # delta.columnMapping.mode=name: every field carries a stable
    # physical name (+ id) in its metadata; data files and
    # partitionValues use PHYSICAL names, so RENAME/DROP COLUMN are
    # metadata-only commits — no data rewrite (the Delta column-mapping
    # protocol re-expressed on the reference's Metadata action,
    # actions.scala:183-214). Mode "none": physical == logical
    # everywhere, all helpers degenerate to identity.

    @property
    def column_mapping_mode(self) -> str:
        return (self.configuration or {}).get(
            "delta.columnMapping.mode", "none")

    def physical_name(self, logical: str) -> str:
        for f in self.schema.fields:
            if f.name == logical:
                return (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", logical)
        return logical

    def name_map(self) -> Dict[str, str]:
        """logical -> physical for every schema field."""
        return {f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name)
                for f in self.schema.fields}

    def _physical_fields(self, fields) -> List[T.StructField]:
        return [T.StructField((f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name),
                    f.dataType, f.nullable, f.metadata)
                for f in fields]

    @property
    def physical_schema(self) -> T.StructType:
        return T.StructType(self._physical_fields(self.schema.fields))

    @property
    def physical_data_schema(self) -> T.StructType:
        return T.StructType(self._physical_fields(self.data_schema.fields))

    @property
    def physical_partition_columns(self) -> List[str]:
        m = self.name_map()
        return [m.get(c, c) for c in self.partitionColumns]

    @property
    def physical_partition_schema(self) -> T.StructType:
        return T.StructType(
            self._physical_fields(self.partition_schema.fields))

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {
            "id": self.id,
            "format": {"provider": self.format.provider,
                       "options": self.format.options},
            "schemaString": self.schemaString,
            "partitionColumns": self.partitionColumns,
            "configuration": self.configuration,
        }
        if self.name is not None:
            d["name"] = self.name
        if self.description is not None:
            d["description"] = self.description
        if self.createdTime is not None:
            d["createdTime"] = self.createdTime
        return {"metaData": d}


@dataclass
class AddFile:
    """A data file that is part of the table (actions.scala:109-132).

    ``path`` is a URI-encoded path relative to the table root (or an
    absolute URI). ``partitionValues`` holds the EXACT string values --
    never parse them from the path (DeltaInputFormat.scala:41-43).
    """

    path: str
    partitionValues: Dict[str, Optional[str]] = field(default_factory=dict)
    size: int = 0
    modificationTime: int = 0
    dataChange: bool = True
    stats: Optional[str] = None
    tags: Optional[Dict[str, str]] = None
    # Row tracking (Delta protocol 'Row Tracking'): fresh row id of row
    # i in this file = baseRowId + i; the commit version that added the
    # file is its rows' default row-commit version. None on tables
    # without the feature.
    baseRowId: Optional[int] = None
    defaultRowCommitVersion: Optional[int] = None

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {
            "path": self.path,
            "partitionValues": self.partitionValues,
            "size": self.size,
            "modificationTime": self.modificationTime,
            "dataChange": self.dataChange,
        }
        if self.stats:
            d["stats"] = self.stats
        if self.tags:
            d["tags"] = self.tags
        if self.baseRowId is not None:
            d["baseRowId"] = self.baseRowId
        if self.defaultRowCommitVersion is not None:
            d["defaultRowCommitVersion"] = self.defaultRowCommitVersion
        return {"add": d}

    def remove(self, deletion_timestamp: int, data_change: bool = True) -> "RemoveFile":
        # tags travel with the tombstone so change readers can still see
        # the deletion vector the file carried when it was removed
        return RemoveFile(
            path=self.path,
            deletionTimestamp=deletion_timestamp,
            dataChange=data_change,
            extendedFileMetadata=True,
            partitionValues=self.partitionValues,
            size=self.size,
            tags=self.tags,
            baseRowId=self.baseRowId,
            defaultRowCommitVersion=self.defaultRowCommitVersion,
        )


@dataclass
class RemoveFile:
    """Tombstone for a no-longer-active file (actions.scala:143-157)."""

    path: str
    deletionTimestamp: Optional[int] = None
    dataChange: bool = True
    extendedFileMetadata: bool = False
    partitionValues: Optional[Dict[str, Optional[str]]] = None
    size: Optional[int] = None
    tags: Optional[Dict[str, str]] = None
    # Row tracking: the tombstone keeps the removed file's fresh-row-id
    # base (Delta spec 'Row Tracking' > RemoveFile fields) so change
    # readers can still derive the deleted rows' ids.
    baseRowId: Optional[int] = None
    defaultRowCommitVersion: Optional[int] = None

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {"path": self.path, "dataChange": self.dataChange}
        if self.deletionTimestamp is not None:
            d["deletionTimestamp"] = self.deletionTimestamp
        if self.extendedFileMetadata:
            d["extendedFileMetadata"] = True
            d["partitionValues"] = self.partitionValues or {}
            d["size"] = self.size or 0
        if self.tags:
            d["tags"] = self.tags
        if self.baseRowId is not None:
            d["baseRowId"] = self.baseRowId
        if self.defaultRowCommitVersion is not None:
            d["defaultRowCommitVersion"] = self.defaultRowCommitVersion
        return {"remove": d}


@dataclass
class AddCDCFile:
    """CDC data file (actions.scala:164-172); ignored by snapshot reads."""

    path: str
    partitionValues: Dict[str, Optional[str]] = field(default_factory=dict)
    size: int = 0
    tags: Optional[Dict[str, str]] = None

    def wrap(self) -> Dict[str, Any]:
        return {"cdc": {"path": self.path, "partitionValues": self.partitionValues,
                        "size": self.size, "tags": self.tags}}


@dataclass
class DomainMetadata:
    """Named metadata domain (Delta protocol 'Domain Metadata'; the
    reference predates the action — actions.scala has no equivalent).
    Replay keeps the LATEST action per ``domain``; ``removed=True``
    tombstones the domain (and must survive log compaction so it keeps
    overriding an older checkpoint's entry). ``configuration`` is an
    opaque JSON string owned by the domain (e.g. delta.rowTracking's
    rowIdHighWaterMark)."""

    domain: str
    configuration: str = ""
    removed: bool = False

    def wrap(self) -> Dict[str, Any]:
        return {"domainMetadata": {
            "domain": self.domain,
            "configuration": self.configuration,
            "removed": self.removed}}


@dataclass
class CheckpointMetadata:
    """V2-checkpoint manifest self-description (Delta protocol 'V2
    Checkpoint Table Feature'): the manifest's own version + free-form
    tags. Only ever appears inside a checkpoint, never a commit."""

    version: int
    tags: Optional[Dict[str, str]] = None

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {"version": self.version}
        if self.tags:
            d["tags"] = self.tags
        return {"checkpointMetadata": d}


@dataclass
class SidecarFile:
    """Reference from a v2 manifest to a sidecar parquet carrying
    AddFile/RemoveFile state; ``path`` is relative to
    ``_delta_log/_sidecars/``."""

    path: str
    sizeInBytes: int = 0
    modificationTime: int = 0

    def wrap(self) -> Dict[str, Any]:
        return {"sidecar": {"path": self.path,
                            "sizeInBytes": self.sizeInBytes,
                            "modificationTime": self.modificationTime}}


@dataclass
class SetTransaction:
    """Idempotent-writer watermark (actions.scala:88-94)."""

    appId: str
    version: int
    lastUpdated: Optional[int] = None

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {"appId": self.appId, "version": self.version}
        if self.lastUpdated is not None:
            d["lastUpdated"] = self.lastUpdated
        return {"txn": d}


@dataclass
class CommitInfo:
    """Commit provenance (actions.scala:235-266). Purely informational."""

    timestamp: int = 0
    operation: str = "Manual Update"
    operationParameters: Dict[str, str] = field(default_factory=dict)
    readVersion: Optional[int] = None
    isolationLevel: Optional[str] = None
    isBlindAppend: Optional[bool] = None
    operationMetrics: Optional[Dict[str, str]] = None
    userMetadata: Optional[str] = None
    userId: Optional[str] = None
    userName: Optional[str] = None
    engineInfo: Optional[str] = None
    # delta.enableInCommitTimestamps: the COMMIT's own monotonic clock
    # (max(wall, prev+1)), immune to log-file mtime skew/copies
    inCommitTimestamp: Optional[int] = None

    def wrap(self) -> Dict[str, Any]:
        d: Dict[str, Any] = {
            "timestamp": self.timestamp,
            "operation": self.operation,
            "operationParameters": self.operationParameters,
        }
        for k in ("readVersion", "isolationLevel", "isBlindAppend",
                  "operationMetrics", "userMetadata", "userId",
                  "userName", "engineInfo", "inCommitTimestamp"):
            v = getattr(self, k)
            if v is not None:
                d[k] = v
        return {"commitInfo": d}


Action = Any  # union of the dataclasses above


def to_json_line(action: Action) -> str:
    return json.dumps(action.wrap(), separators=(",", ":"))


def parse_action(key: str, d: Dict[str, Any]) -> Optional[Action]:
    """One action from its single-key envelope's key and field dict."""
    if key == "add":
        return AddFile(
            path=d["path"], partitionValues=d.get("partitionValues") or {},
            size=d.get("size") or 0,
            modificationTime=d.get("modificationTime") or 0,
            dataChange=d.get("dataChange", True), stats=d.get("stats"),
            tags=d.get("tags"), baseRowId=d.get("baseRowId"),
            defaultRowCommitVersion=d.get("defaultRowCommitVersion"))
    if key == "remove":
        return RemoveFile(
            path=d["path"], deletionTimestamp=d.get("deletionTimestamp"),
            dataChange=d.get("dataChange", True),
            extendedFileMetadata=d.get("extendedFileMetadata", False),
            partitionValues=d.get("partitionValues"), size=d.get("size"),
            tags=d.get("tags"), baseRowId=d.get("baseRowId"),
            defaultRowCommitVersion=d.get("defaultRowCommitVersion"))
    if key == "metaData":
        fmt = d.get("format") or {}
        return Metadata(
            id=d.get("id", ""), name=d.get("name"),
            description=d.get("description"),
            format=Format(fmt.get("provider", "parquet"),
                          fmt.get("options") or {}),
            schemaString=d.get("schemaString", ""),
            partitionColumns=list(d.get("partitionColumns") or []),
            configuration=d.get("configuration") or {},
            createdTime=d.get("createdTime"))
    if key == "protocol":
        return Protocol(
            d.get("minReaderVersion", 1), d.get("minWriterVersion", 2),
            readerFeatures=(list(d["readerFeatures"])
                            if d.get("readerFeatures") is not None else None),
            writerFeatures=(list(d["writerFeatures"])
                            if d.get("writerFeatures") is not None else None))
    if key == "txn":
        return SetTransaction(d["appId"], d["version"], d.get("lastUpdated"))
    if key == "commitInfo":
        return CommitInfo(
            timestamp=d.get("timestamp") or 0,
            operation=d.get("operation", ""),
            operationParameters=d.get("operationParameters") or {},
            readVersion=d.get("readVersion"),
            isolationLevel=d.get("isolationLevel"),
            isBlindAppend=d.get("isBlindAppend"),
            operationMetrics=d.get("operationMetrics"),
            userMetadata=d.get("userMetadata"),
            userId=d.get("userId"),
            userName=d.get("userName"),
            engineInfo=d.get("engineInfo"),
            inCommitTimestamp=d.get("inCommitTimestamp"))
    if key == "cdc":
        return AddCDCFile(d["path"], d.get("partitionValues") or {},
                          d.get("size") or 0, d.get("tags"))
    if key == "domainMetadata":
        return DomainMetadata(d["domain"], d.get("configuration") or "",
                              bool(d.get("removed", False)))
    if key == "checkpointMetadata":
        return CheckpointMetadata(int(d["version"]), d.get("tags"))
    if key == "sidecar":
        return SidecarFile(d["path"], d.get("sizeInBytes") or 0,
                           d.get("modificationTime") or 0)
    return None


def from_json_line(line: str) -> Optional[Action]:
    """Parse one NDJSON action line into a dataclass (driver-side path)."""
    obj = json.loads(line)
    for key, d in obj.items():
        if d is None:
            continue
        a = parse_action(key, d)
        if a is not None:
            return a
    return None


def as_parsed(action: Action) -> Optional[Action]:
    """``action`` as ``from_json_line`` reads it back from the line
    ``to_json_line`` writes (omitted fields read as absent), without
    the JSON round trip."""
    (key, d), = action.wrap().items()
    return parse_action(key, d)


# ---------------------------------------------------------------------------
# Spark schema for SingleAction — used by spark.read.json over delta files and
# spark.read.parquet over checkpoints (same struct column names).
# ---------------------------------------------------------------------------

_STR_MAP = T.MapType(T.StringType(), T.StringType(), True)

ADD_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("partitionValues", _STR_MAP),
    T.StructField("size", T.LongType()),
    T.StructField("modificationTime", T.LongType()),
    T.StructField("dataChange", T.BooleanType()),
    T.StructField("stats", T.StringType()),
    T.StructField("tags", _STR_MAP),
    T.StructField("baseRowId", T.LongType()),
    T.StructField("defaultRowCommitVersion", T.LongType()),
])

REMOVE_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("deletionTimestamp", T.LongType()),
    T.StructField("dataChange", T.BooleanType()),
    T.StructField("extendedFileMetadata", T.BooleanType()),
    T.StructField("partitionValues", _STR_MAP),
    T.StructField("size", T.LongType()),
    T.StructField("tags", _STR_MAP),
    T.StructField("baseRowId", T.LongType()),
    T.StructField("defaultRowCommitVersion", T.LongType()),
])

METADATA_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("format", T.StructType([
        T.StructField("provider", T.StringType()),
        T.StructField("options", _STR_MAP),
    ])),
    T.StructField("schemaString", T.StringType()),
    T.StructField("partitionColumns", T.ArrayType(T.StringType())),
    T.StructField("configuration", _STR_MAP),
    T.StructField("createdTime", T.LongType()),
])

PROTOCOL_SCHEMA = T.StructType([
    T.StructField("minReaderVersion", T.IntegerType()),
    T.StructField("minWriterVersion", T.IntegerType()),
    T.StructField("readerFeatures", T.ArrayType(T.StringType())),
    T.StructField("writerFeatures", T.ArrayType(T.StringType())),
])

TXN_SCHEMA = T.StructType([
    T.StructField("appId", T.StringType()),
    T.StructField("version", T.LongType()),
    T.StructField("lastUpdated", T.LongType()),
])

COMMIT_INFO_SCHEMA = T.StructType([
    T.StructField("timestamp", T.LongType()),
    # userId/userName ride in the Spark-side schema too (ADVICE r13:
    # the dataclass/wrap/parse gained them in r13 but the schema did
    # not, so SINGLE_ACTION_SCHEMA consumers silently dropped them)
    T.StructField("userId", T.StringType()),
    T.StructField("userName", T.StringType()),
    T.StructField("operation", T.StringType()),
    T.StructField("operationParameters", _STR_MAP),
    T.StructField("readVersion", T.LongType()),
    T.StructField("isolationLevel", T.StringType()),
    T.StructField("isBlindAppend", T.BooleanType()),
    T.StructField("operationMetrics", _STR_MAP),
    T.StructField("userMetadata", T.StringType()),
    T.StructField("engineInfo", T.StringType()),
    T.StructField("inCommitTimestamp", T.LongType()),
])

CDC_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("partitionValues", _STR_MAP),
    T.StructField("size", T.LongType()),
    T.StructField("tags", _STR_MAP),
])

DOMAIN_METADATA_SCHEMA = T.StructType([
    T.StructField("domain", T.StringType()),
    T.StructField("configuration", T.StringType()),
    T.StructField("removed", T.BooleanType()),
])

CHECKPOINT_METADATA_SCHEMA = T.StructType([
    T.StructField("version", T.LongType()),
    T.StructField("tags", _STR_MAP),
])

SIDECAR_SCHEMA = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("sizeInBytes", T.LongType()),
    T.StructField("modificationTime", T.LongType()),
])

SINGLE_ACTION_SCHEMA = T.StructType([
    T.StructField("txn", TXN_SCHEMA),
    T.StructField("add", ADD_SCHEMA),
    T.StructField("remove", REMOVE_SCHEMA),
    T.StructField("metaData", METADATA_SCHEMA),
    T.StructField("protocol", PROTOCOL_SCHEMA),
    T.StructField("cdc", CDC_SCHEMA),
    T.StructField("domainMetadata", DOMAIN_METADATA_SCHEMA),
    T.StructField("checkpointMetadata", CHECKPOINT_METADATA_SCHEMA),
    T.StructField("sidecar", SIDECAR_SCHEMA),
    T.StructField("commitInfo", COMMIT_INFO_SCHEMA),
])
