"""Structured Streaming SOURCE: table version as the stream offset
(reference ST1-ST5; SURVEY.md §2.9, §3.3).

A Python DataSource (`spark.dataSource.register`) whose offset is the
Delta table version — the exact analogue of the Flink connector's
enumerator (ChangesProcessor.java:93-172): ``latestOffset`` polls the
log, ``partitions(start, end)`` plans one input partition per validated
data file in versions (start, end], executors read the Parquet and
reattach partition values from the log.

The planner runs Spark-free (pure-Python LogStore + action JSON parse)
because Python data sources execute outside the driver's JVM session;
the per-file reads use pyarrow and yield Arrow RecordBatches, so row
data never passes through Python objects.

Scale note: offsets advance by whole versions; each microbatch is
planned as files → Spark distributes per-file partitions exactly as a
batch scan would. Rate limiting = `maxVersionsPerBatch` (≍ Flink's
per-poll changes cap). For very large appends per version, file-level
split would go here.

Usage:
    spark.dataSource.register(DeltaStreamDataSource)
    (spark.readStream.format("delta_stream")
        .option("path", table_path)
        .option("startingVersion", "0")          # or "latest"
        .option("readChangeFeed", "true")        # row-level CDF mode
        .option("maxFilesPerTrigger", "1000")    # page the snapshot
        .load())
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List, Optional, Tuple

from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                    InputPartition)
from pyspark.sql.types import LongType, StructField, StructType

from ..dv import DV_TAG
from ..errors import DeltaError
from ..log import filenames as fn
from ..log.actions import (AddCDCFile, AddFile, Metadata, Protocol,
                           RemoveFile)
# Module-scope imports only (no lazy `from ..x import` inside methods
# that workers execute): this module ships to data-source workers by
# value (shipping.py), which covers objects referenced at pickle time
# but NOT runtime imports — those would need the package installed.
from ..log import history as hist
from ..log.logstore import default_log_store, strip_scheme
from ..log.segment import get_log_segment
from ..log.snapshot import (canonical_path, parse_deltas, read_commit,
                            replay_log_state, replay_planes)
from ..partition_values import decode as decode_partition_value
from .changes import validated_adds


def _log_path(table_path: str) -> str:
    return os.path.join(strip_scheme(table_path), "_delta_log")


def _read_version_actions(store, log_path: str, version: int) -> list:
    return read_commit(store, fn.delta_file(log_path, version))


def _segment(store, table_path: str, version: Optional[int] = None):
    return get_log_segment(store, _log_path(table_path),
                           version_to_load=version)


def _latest_metadata(store, table_path: str) -> Metadata:
    seg = _segment(store, table_path)
    return replay_log_state(store, seg, parse_deltas(store, seg),
                            strip_scheme(table_path)).metadata


def _list_versions(store, log_path: str, after: int) -> List[int]:
    names = [n for n in store.list_from(log_path, "%020d" % max(after + 1, 0))
             if fn.is_delta_file(n)]
    return sorted(v for v in (fn.delta_version(n) for n in names)
                  if v > after)


def _snapshot_adds(store, table_path: str,
                   version: Optional[int] = None) -> Tuple[int, List]:
    """(version, active file rows) at ``version`` (None = latest): the
    Snapshot's driver fold, Spark-free, paths physical. This is the ST4
    initial-snapshot planner — it works even when W8 cleanup deleted the
    early deltas, because the state it needs lives in the checkpoint."""
    seg = _segment(store, table_path, version)
    files, _ = replay_planes(store, seg, parse_deltas(store, seg),
                             strip_scheme(table_path).rstrip("/"))
    return seg.version, files


class DeltaFilePartition(InputPartition):
    """One input file of one microbatch.

    ``kind``: "data" (plain row feed), or the CDF kinds — "cdc" (a
    change file carrying its own ``_change_type`` column; layout in
    streaming/cdf.py), "insert"/"delete" (a data file synthesized to
    that change type). Partition columns always come from
    ``partition_values``.
    ``dv_rel``: deletion-vector sidecar rel path to apply — only the
    file's LIVE rows under that DV are emitted."""

    def __init__(self, file_path: str, version: int,
                 partition_values: dict, kind: str = "data",
                 dv_rel: Optional[str] = None,
                 base_row_id: Optional[int] = None,
                 default_rcv: Optional[int] = None):
        self.file_path = file_path
        self.version = version
        self.partition_values = partition_values
        self.kind = kind
        self.dv_rel = dv_rel
        # Row tracking: the file's fresh-row-id base + default commit
        # version from the log action (None on untracked tables)
        self.base_row_id = base_row_id
        self.default_rcv = default_rcv


def _parse_bytes(v, option: str) -> int:
    """Byte-size option parse accepting the delta-spark suffix forms:
    plain integers plus k/m/g(b) suffixes (binary multiples, matching
    Spark's JavaUtils.byteStringAsBytes)."""
    t = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
                   ("g", 1 << 30), ("t", 1 << 40), ("b", 1)):
        if t.endswith(suf):
            t, mult = t[:-len(suf)], m
            break
    try:
        return int(t) * mult
    except ValueError:
        raise DeltaError(
            f"{option} must be a byte count (e.g. 1000000, 10m, 1g), "
            f"got {v!r}") from None


def _positive_option(options: dict, key: str, name: str,
                     parse=int) -> Optional[int]:
    """Parse an explicitly-set rate-limit option, rejecting values < 1
    (DeltaOptions.scala validates maxFilesPerTrigger the same way). A
    non-positive cap would make the snapshot page slice run backwards —
    trailing files silently never delivered — so it must error loudly.
    Returns None when the option is absent."""
    if key not in options:
        return None
    n = parse(options[key])
    if n < 1:
        raise DeltaError(f"{name} must be at least 1, "
                         f"got {options[key]!r}")
    return n


class DeltaVersionStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.table_path = options["path"]
        self.root = strip_scheme(self.table_path).rstrip("/")
        self.log_path = _log_path(self.table_path)
        self.store = default_log_store(self.table_path)
        self.ignore_deletes = str(options.get("ignoredeletes",
                                              "false")).lower() == "true"
        self.ignore_changes = str(options.get("ignorechanges",
                                              "false")).lower() == "true"
        self.fail_on_data_loss = str(options.get("failondataloss",
                                                 "true")).lower() == "true"
        self.max_versions = _positive_option(
            options, "maxversionsperbatch", "maxVersionsPerBatch")
        # maxFilesPerTrigger (delta-spark option; Flink pages its
        # snapshot the same way via incremental split assignment,
        # SnapshotAndChangesTableProcessor): bound the ST4 initial
        # snapshot to N files per microbatch instead of planning the
        # whole active file set — at 100 TB the unpaged first batch is
        # the entire table in one transaction. Tail batches stay
        # version-granular (bounded by maxVersionsPerBatch).
        self.max_files = _positive_option(
            options, "maxfilespertrigger", "maxFilesPerTrigger")
        # maxBytesPerTrigger (delta-spark option): soft byte cap per
        # snapshot page — a page takes files until their cumulative
        # size reaches the cap (always at least one), so batch size
        # tracks data volume instead of file count when file sizes are
        # uneven. Composes with maxFilesPerTrigger: whichever limit
        # binds first ends the page.
        self.max_bytes = _positive_option(
            options, "maxbytespertrigger", "maxBytesPerTrigger",
            parse=lambda v: _parse_bytes(v, "maxBytesPerTrigger"))
        self._snap_done = False
        # readChangeFeed (delta-spark option): emit ROW-LEVEL changes —
        # the table's columns plus _change_type — instead of the plain
        # appended-rows feed. Versions with physical change files
        # (AddCDCFile, DML under delta.enableChangeDataFeed) replay
        # them exactly; other versions synthesize insert/delete from
        # their dataChange actions, the same rules as the batch reader
        # (streaming/cdf.py). The initial snapshot arrives as inserts.
        self.cdf = str(options.get("readchangefeed",
                                   "false")).lower() == "true"
        self.schema_json = schema.json()
        starting = options.get("startingversion")
        starting_ts = options.get("startingtimestamp")
        if starting is not None and starting_ts is not None:
            # ST5: mutually exclusive (DeltaSourceOptions.java:63-112)
            raise DeltaError("startingVersion and startingTimestamp are "
                             "mutually exclusive")
        self.snapshot_first = False
        if starting_ts is not None:
            self.start_after = self._version_at_or_after(starting_ts) - 1
        elif starting is None:
            # ST4 default (SnapshotAndChangesTableProcessor.java): first
            # microbatch = the full snapshot at the CURRENT latest
            # version, then tail from latest+1. Survives W8 log cleanup
            # (the snapshot replays from the checkpoint) and never trips
            # ST3 on historical metadata changes/deletes. Explicit
            # startingVersion=0 restores full-history replay.
            try:
                latest = get_log_segment(self.store,
                                         self.log_path).version
                self.snapshot_first = True
                self.start_after = latest
            except (FileNotFoundError, ValueError):
                self.start_after = -1   # empty table: tail from v0
        elif str(starting) == "latest":
            vs = _list_versions(self.store, self.log_path, -1)
            self.start_after = vs[-1] if vs else -1
        else:
            self.start_after = int(starting) - 1
        if self.snapshot_first and (self.max_files is not None
                                    or self.max_bytes is not None):
            # Seed the paging floor HERE, not in initialOffset: the
            # engine's first latestOffset() call precedes
            # initialOffset() on a fresh query, and the Python stream
            # reader API gives latestOffset no view of persisted
            # offsets. A restarted stream whose checkpoint is already
            # past the snapshot is detected in partitions() (offset
            # shape mismatch) and paging is disabled there.
            self._snap_v0 = self.start_after
            self._snap_pos = 0
        # withRowIds: append _row_id/_row_commit_version per row — the
        # same coalesce(materialized, baseRowId + row_index) as the
        # batch reader (log/snapshot.py to_df), so incremental
        # consumers can key on stable row identity across microbatches.
        self.with_row_ids = str(options.get("withrowids",
                                            "false")).lower() == "true"
        meta = _latest_metadata(self.store, self.table_path)
        if self.with_row_ids:
            from ..config import TableConfig
            if not TableConfig(meta.configuration).enable_row_tracking:
                raise DeltaError(
                    "withRowIds requested but delta.enableRowTracking "
                    "is not set on this table")
            from ..log.snapshot import materialized_rt_cols
            self.rid_col, self.rcv_col = materialized_rt_cols(meta)
        self.partition_columns = list(meta.partitionColumns)
        self.meta_schema_json = meta.schemaString
        # logical -> physical (identity when column mapping is off):
        # data files, CDC files and partitionValues keys live in the
        # physical domain; the reader resolves by physical name and
        # emits the logical schema. Plain dict — ships by value.
        self.phys = meta.name_map()

    def _version_at_or_after(self, ts_opt: str) -> int:
        """ST5 start-position resolution by timestamp (epoch ms or ISO
        datetime; DeltaLog.getVersionAtOrAfterTimestamp,
        DeltaLogImpl.scala:148-172)."""
        try:
            ts_ms = int(ts_opt)
        except ValueError:
            import datetime as _dt
            ts_ms = int(_dt.datetime.fromisoformat(ts_opt)
                        .timestamp() * 1000)
        commits = hist.list_commits(self.store, self.log_path)
        for c in commits:
            if c.timestamp >= ts_ms:
                return c.version
        # after the last commit: stream starts at the next future version
        return (commits[-1].version + 1) if commits else 0

    # ------------------------------------------------------------ offsets

    def initialOffset(self) -> dict:
        # Only a FRESH query reaches here (a restart restores offsets
        # from the engine checkpoint) — so start_after is the true
        # consumed floor and rate limiting may cap relative to it.
        self._committed = max(getattr(self, "_committed", -1),
                              self.start_after)
        if self.snapshot_first:
            # "snap" marks the pending initial-snapshot batch; it differs
            # from every later offset, so the engine plans the first
            # microbatch even when no new commits exist yet.
            if self.max_files is not None or self.max_bytes is not None:
                # snap_idx = files of the sorted snapshot list consumed
                # so far; latestOffset advances it one page at a time.
                return {"version": self.start_after, "snap": True,
                        "snap_idx": 0}
            return {"version": self.start_after, "snap": True}
        return {"version": self.start_after}

    def _snap_files(self, v0: int) -> List[AddFile]:
        """Sorted (deterministic) active file list at the snapshot
        version — page boundaries are indices into THIS order, so a
        restarted reader replans identical pages from the persisted
        offsets."""
        cached = getattr(self, "_snap_cache", None)
        if cached is None or cached[0] != v0:
            _, adds = _snapshot_adds(self.store, self.table_path, v0)
            cached = (v0, sorted(adds, key=lambda a: a.path))
            self._snap_cache = cached
        return cached[1]

    def _page_end(self, files: List[AddFile], pos: int) -> int:
        """End index of the snapshot page starting at pos: bounded by
        maxFilesPerTrigger (hard count) and maxBytesPerTrigger (soft
        sum — include files until the cumulative size reaches the cap,
        never fewer than one). Whichever limit binds first wins."""
        cap = len(files)
        if self.max_files is not None:
            cap = min(cap, pos + self.max_files)
        if self.max_bytes is None:
            return cap
        end, total = pos, 0
        while end < cap:
            total += files[end].size or 0
            end += 1
            if total >= self.max_bytes:
                break
        return max(end, pos + 1)

    def latestOffset(self) -> dict:
        # Pending paged snapshot: emit the next page as its own offset
        # and hold the version at v0 — tail versions only start flowing
        # once every snapshot page is consumed. The floor is seeded in
        # __init__ (fresh query) and advanced by partitions()/commit()
        # from the engine-persisted offsets; partitions() sets
        # _snap_done when those offsets show the stream is already past
        # the snapshot (restart), after which a stray snap-marked end
        # offset plans tail-only and paging stays off.
        pos = getattr(self, "_snap_pos", None)
        if pos is not None and not self._snap_done \
                and (self.max_files is not None
                     or self.max_bytes is not None):
            files = self._snap_files(self._snap_v0)
            if pos < len(files):
                return {"version": self._snap_v0, "snap": True,
                        "snap_idx": self._page_end(files, pos)}
        # list only past the consumed floor (committed offset, falling
        # back to the start position): the poll cost is O(uncommitted
        # tail), not O(log history) — the listFrom contract object-store
        # log stores push down (TableMonitor.java polling shape).
        committed = getattr(self, "_committed", None)
        floor = max(self.start_after,
                    committed if committed is not None else -1)
        vs = _list_versions(self.store, self.log_path, floor)
        latest = vs[-1] if vs else floor
        if self.max_versions is not None and committed is not None \
                and latest > floor:
            # Rate limit: at most N versions per microbatch, relative to
            # the last processed batch. The cap is SKIPPED until a floor
            # is established in-process — initialOffset() (fresh query)
            # or partitions()/commit() (engine-persisted offsets on
            # restart) set it. A restarted reader that has seen neither
            # knows only the recomputed start_after, and capping
            # relative to that could return an offset BELOW the
            # engine's checkpointed offset — Spark would record the
            # regression and replay already-committed versions,
            # breaking exactly-once.
            latest = min(latest, floor + self.max_versions)
        return {"version": max(latest, floor)}

    # ---------------------------------------------------------- planning

    def partitions(self, start: dict, end: dict
                   ) -> List[DeltaFilePartition]:
        # start/end are engine-persisted offsets: establish the
        # rate-limit floor from them so a restarted reader's
        # latestOffset() never regresses below the checkpointed offset
        # (see latestOffset) and re-run batches re-establish the floor.
        self._committed = max(getattr(self, "_committed", -1),
                              start["version"])
        out: List[DeltaFilePartition] = []
        if start.get("snap"):
            # ST4 initial snapshot: active files at the snapshot
            # version, attributed to that version. Recomputed from the
            # PERSISTED offsets (not reader state) so a checkpoint
            # restart plans the identical batch. Clamped to end: a
            # restart after batch 0's end offset was persisted would
            # otherwise recompute the snapshot at the CURRENT latest
            # (reader __init__), emit rows beyond the persisted end, and
            # the next batch would deliver those versions again as tail.
            # With maxFilesPerTrigger the offsets carry snap_idx page
            # bounds into the sorted file list: this batch plans
            # files[start.snap_idx : end.snap_idx], and an end offset
            # with no snap marker (restart past the paging, or paging
            # disabled) means the remainder of the snapshot.
            v0 = min(start["version"], end["version"])
            adds = self._snap_files(v0)
            s = int(start.get("snap_idx", 0))
            if end.get("snap") and end["version"] == start["version"]:
                e = int(end.get("snap_idx", len(adds)))
            else:
                # end is a plain version offset (paging off / legacy),
                # or a snap offset computed against a DIFFERENT
                # snapshot version (restart: __init__ recomputed the
                # snapshot at the new latest while the persisted start
                # still mid-pages the old one). Either way the safe,
                # deterministic plan is: finish the persisted snapshot
                # here, then stop paging — the tail below covers
                # (v0, end.version].
                e = len(adds)
                self._snap_done = True
            for a in adds[s:e]:
                # apply each active file's deletion vector (live rows
                # only — a DV-deleted table must not redeliver its
                # deleted rows in the snapshot); CDF mode tags the
                # snapshot rows as inserts (delta-spark semantics).
                out.append(DeltaFilePartition(
                    a.path, v0,
                    dict(a.partitionValues or {}),
                    kind="insert" if self.cdf else "data",
                    dv_rel=(a.tags or {}).get(DV_TAG),
                    base_row_id=a.baseRowId,
                    default_rcv=a.defaultRowCommitVersion))
            # in-process paging floor for latestOffset: the engine
            # persists (start, end) in its WAL before execution, so a
            # failed batch replans this identical page — advancing the
            # floor at plan time never skips files.
            self._snap_v0 = v0
            self._snap_pos = max(getattr(self, "_snap_pos", 0) or 0, e)
        elif end.get("snap"):
            # start is PAST the snapshot (plain committed offset) but
            # this end offset carries a snap marker: it was computed by
            # a freshly-restarted reader that seeded paging against the
            # current latest while the checkpoint already consumed the
            # snapshot long ago. Planning snapshot files would
            # re-deliver rows — plan the version tail only and disable
            # paging for good.
            self._snap_done = True
        prev = start["version"]
        for v in _list_versions(self.store, self.log_path, start["version"]):
            if v > end["version"]:
                break
            if v != prev + 1 and self.fail_on_data_loss:
                # ST1 gap detection (DeltaLogImpl.getChanges
                # failOnDataLoss, DeltaLogImpl.scala:106-130): versions
                # (prev, v) were cleaned before we streamed them.
                raise DeltaError(
                    f"versions {prev + 1}..{v - 1} are missing from the "
                    f"log (expired cleanup?); set failOnDataLoss=false "
                    f"to continue from version {v}")
            prev = v
            if self.cdf:
                out.extend(self._cdf_partitions(v))
            else:
                # ST3, with the creation commit exempt
                for a in validated_adds(
                        v, _read_version_actions(self.store,
                                                 self.log_path, v),
                        v == 0, self.ignore_deletes, self.ignore_changes):
                    out.append(DeltaFilePartition(
                        canonical_path(a.path, self.root), v,
                        dict(a.partitionValues or {}),
                        dv_rel=(a.tags or {}).get(DV_TAG),
                        base_row_id=a.baseRowId,
                        default_rcv=a.defaultRowCommitVersion))
        return out

    def _cdf_partitions(self, version: int) -> List[DeltaFilePartition]:
        """Row-level change plan for one version (batch-reader rules,
        streaming/cdf.py): physical AddCDCFile files when the commit
        wrote them, else synthesized insert (added files) + delete
        (removed files, parquet still readable until VACUUM); each
        side under its own deletion vector so a DV commit nets out to
        exactly the changed rows. dataChange=false commits (OPTIMIZE)
        emit nothing. Metadata/protocol changes mid-stream still
        error (ST3) — the feed's schema is pinned at start."""
        actions = _read_version_actions(self.store, self.log_path, version)
        if version > 0 and any(isinstance(a, (Metadata, Protocol))
                               for a in actions):
            raise DeltaError(
                f"metadata/protocol change at version {version} "
                f"mid-stream")
        cdcs = [a for a in actions if isinstance(a, AddCDCFile)]
        if cdcs:
            return [DeltaFilePartition(
                canonical_path(a.path, self.root), version,
                dict(a.partitionValues or {}), kind="cdc")
                for a in cdcs]
        out: List[DeltaFilePartition] = []
        for a in actions:
            if isinstance(a, AddFile) and a.dataChange:
                out.append(DeltaFilePartition(
                    canonical_path(a.path, self.root), version,
                    dict(a.partitionValues or {}), kind="insert",
                    dv_rel=(a.tags or {}).get(DV_TAG),
                    base_row_id=a.baseRowId,
                    default_rcv=a.defaultRowCommitVersion))
            elif isinstance(a, RemoveFile) and a.dataChange:
                out.append(DeltaFilePartition(
                    canonical_path(a.path, self.root), version,
                    dict(a.partitionValues or {}), kind="delete",
                    dv_rel=(a.tags or {}).get(DV_TAG),
                    base_row_id=a.baseRowId,
                    default_rcv=a.defaultRowCommitVersion))
        return out

    # ------------------------------------------------------------ reading

    def _dv_mask(self, partition: DeltaFilePartition, n: int):
        """Boolean keep-mask (numpy, length n) for the partition's
        deletion vector: True = live row. The sidecar is a small
        (file_path, row_index) parquet of physical paths; only this
        file's rows apply (vectorized Arrow compute)."""
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        side = canonical_path(partition.dv_rel, self.root)
        tbl = pq.read_table(side, columns=["file_path", "row_index"])
        idx = pc.filter(tbl.column("row_index"),
                        pc.equal(tbl.column("file_path"),
                                 partition.file_path))
        ri = idx.to_numpy(zero_copy_only=False).astype(np.int64)
        ri = ri[(ri >= 0) & (ri < n)]
        keep = np.ones(n, dtype=bool)
        keep[ri] = False
        return keep

    def read(self, partition: DeltaFilePartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        full = StructType.fromJson(json.loads(self.schema_json))
        meta = StructType.fromJson(json.loads(self.meta_schema_json))
        pcols = set(self.partition_columns)
        kind = getattr(partition, "kind", "data")
        phys = getattr(self, "phys", {})
        # files store only data columns (change files add their
        # _change_type); partition columns attach from the partition's
        # values below
        file_cols = [phys.get(f.name, f.name) for f in meta.fields
                     if f.name not in pcols]
        if kind == "cdc":
            file_cols.append("_change_type")
        want_rid = getattr(self, "with_row_ids", False)
        rid_extra = []
        if want_rid:
            # materialized id columns exist only in files written by a
            # rewrite under row tracking — read them when present
            avail = set(pq.read_schema(partition.file_path).names)
            rid_extra = [c for c in (self.rid_col, self.rcv_col)
                         if c in avail]
        tbl = pq.read_table(partition.file_path,
                            columns=file_cols + rid_extra)
        mask = None
        if getattr(partition, "dv_rel", None):
            mask = self._dv_mask(partition, tbl.num_rows)
            tbl = tbl.filter(pa.array(mask))
        n = tbl.num_rows
        ri = None
        if want_rid:
            import numpy as np
            # PHYSICAL row positions of the surviving rows (a DV
            # delete never renumbers the rest — id stability)
            ri = (np.flatnonzero(mask) if mask is not None
                  else np.arange(n))

        def _rid_array(mat_col, fresh):
            # coalesce(materialized column, fresh fallback) — exactly
            # Snapshot.to_df's row-id rule, Arrow-side
            import pyarrow.compute as pc
            if mat_col in tbl.column_names:
                return pc.coalesce(
                    tbl.column(mat_col).cast(pa.int64())
                    .combine_chunks(), fresh)
            return fresh

        arrays, names = [], []
        for f in full.fields:
            if f.name == "_commit_version":
                arrays.append(pa.array([partition.version] * n,
                                       type=pa.int64()))
            elif f.name == "_change_type" and kind != "cdc":
                ct = "delete" if kind == "delete" else "insert"
                arrays.append(pa.array([ct] * n, type=pa.string()))
            elif f.name == "_row_id" and want_rid:
                base = getattr(partition, "base_row_id", None)
                fresh = (pa.array((base + ri).astype("int64"))
                         if base is not None
                         else pa.nulls(n, pa.int64()))
                arrays.append(_rid_array(self.rid_col, fresh))
            elif f.name == "_row_commit_version" and want_rid:
                dcv = getattr(partition, "default_rcv", None)
                fresh = pa.array([dcv] * n, type=pa.int64())
                arrays.append(_rid_array(self.rcv_col, fresh))
            elif f.name in pcols:
                val = decode_partition_value(
                    partition.partition_values.get(
                        phys.get(f.name, f.name)), f.dataType)
                arrays.append(pa.array([val] * n,
                                       type=to_arrow_type(f.dataType)))
            else:
                col = tbl.column(phys.get(f.name, f.name))
                arrays.append(col.cast(to_arrow_type(f.dataType)))
            names.append(f.name)
        out = pa.Table.from_arrays(arrays, names=names)
        yield from out.to_batches()

    def commit(self, end: dict) -> None:
        # advance the consumed floor so rate limiting and the tail
        # listing are relative to completed batches
        v = end.get("version", -1)
        self._committed = max(getattr(self, "_committed", -1), v)
        if end.get("snap") and "snap_idx" in end:
            self._snap_pos = max(getattr(self, "_snap_pos", 0) or 0,
                                 int(end["snap_idx"]))


def register_stream_source(spark) -> None:
    """Register the ``delta_stream`` format, shipping this package's
    code BY VALUE to the data-source Python workers.

    Spark pickles a Python DataSource class by module reference; the
    worker processes don't necessarily have connectors_spark on their
    sys.path (e.g. driver started from another directory). Registering
    the package's modules for pickle-by-value makes the source
    self-contained — no install required on workers.
    """
    from ..shipping import ensure_shipped_by_value
    ensure_shipped_by_value()
    spark.dataSource.register(DeltaStreamDataSource)


class DeltaStreamDataSource(DataSource):
    """readStream format ``delta_stream``: version-offset change feed."""

    @classmethod
    def name(cls) -> str:
        return "delta_stream"

    def schema(self) -> StructType:
        store = default_log_store(self.options["path"])
        meta = _latest_metadata(store, self.options["path"])
        extra = [StructField("_commit_version", LongType())]
        if str(self.options.get("readchangefeed",
                                "false")).lower() == "true":
            from pyspark.sql.types import StringType
            extra = [StructField("_change_type", StringType())] + extra
        if str(self.options.get("withrowids",
                                "false")).lower() == "true":
            extra += [StructField("_row_id", LongType()),
                      StructField("_row_commit_version", LongType())]
        return StructType(meta.schema.fields + extra)

    def streamReader(self, schema: StructType) -> DeltaVersionStreamReader:
        return DeltaVersionStreamReader(schema, dict(self.options))
