"""Checkpoint writing (reference: Checkpoints.writeCheckpoint,
``Checkpoints.scala:221-312``; multi-part naming FileNames.scala:61-64).

A checkpoint is the full snapshot state as SingleAction-shaped Parquet:
all active AddFiles (paths re-relativized), RemoveFile tombstones younger
than the table's ``delta.deletedFileRetentionDuration``, latest Protocol +
Metadata, the last SetTransaction per appId and the active metadata
domains.

One rule picks the writer, the rule the Snapshot already follows for
replay. With no explicit ``parts``, a classic (non-v2) policy and a
snapshot the driver fold may replay (``Snapshot._driver_replayable``),
the fold's two planes are written as one parquet by pyarrow, in this
process — the way the reference Standalone writes checkpoints. Every
other case is the distributed write: ``files_df`` and ``tombstones_df``
through Spark, split into N parts (or v2 sidecars) for state
that no longer fits one file; readers glob the parts back together
(segment._complete_checkpoints).

Both writers publish through the snapshot's LogStore: write a temp file
(Spark can't name its output files), then rename it into the checkpoint
name(s) — the temp-file+rename dance the reference does for stores with
visible partial writes (Checkpoints.scala:267-288).
"""

from __future__ import annotations

import json
import math
import os
import uuid
from typing import Callable, List, Optional

from pyspark.sql import functions as F

from ..config import TableConfig
from . import filenames as fn
from .actions import (SINGLE_ACTION_SCHEMA, CheckpointMetadata,
                      DomainMetadata, SetTransaction, SidecarFile,
                      to_json_line)
from .segment import write_last_checkpoint
from .snapshot import Snapshot, relativize, relativize_col

# Target actions per checkpoint part; ~500k AddFile rows keeps a part well
# under typical 128MB row-group targets.
ACTIONS_PER_PART = 500_000


def _json_lines_df(spark, lines):
    """A handful of action JSON lines as SINGLE_ACTION_SCHEMA rows.
    ``from_json`` over a literal array stays JVM-side; the previous
    ``read.json(parallelize(lines))`` shipped the lines through a
    Python-backed RDD — a Python-worker round trip per checkpoint
    write for 2-5 driver-built rows (r14, guide §4.1)."""
    return (spark.range(1)
            .select(F.explode(F.lit(lines)).alias("__j"))
            .select(F.from_json("__j", SINGLE_ACTION_SCHEMA).alias("__a"))
            .select("__a.*"))


def _as_action(df, kind: str, struct):
    """``df`` projected onto SINGLE_ACTION_SCHEMA: ``struct`` as the
    ``kind`` column, every other action column null."""
    return df.select(*[(struct if f.name == kind
                        else F.lit(None).cast(f.dataType)).alias(f.name)
                       for f in SINGLE_ACTION_SCHEMA.fields])


def _driver_state_rows(snapshot: Snapshot, pm_lines) -> list:
    """SINGLE_ACTION_SCHEMA rows (python dicts) for a driver-side
    checkpoint write — field-for-field what the distributed plan
    produces: adds from the fold's file plane, retained tombstones
    (each remove's own extendedFileMetadata gating partitionValues/
    size), and the P&M/txn/domain lines."""
    tp = snapshot.table_path
    rows = []
    for r in snapshot._files_rows:
        rows.append({"add": {
            "path": relativize(r["path"], tp),
            "partitionValues": r["partitionValues"],
            "size": r["size"],
            "modificationTime": r["modificationTime"],
            "dataChange": bool(r["dataChange"]),
            "stats": r["stats"],
            "tags": r["tags"],
            "baseRowId": r["baseRowId"],
            "defaultRowCommitVersion": r["defaultRowCommitVersion"],
        }})
    for r in snapshot.retained_tombstone_rows(snapshot.tombstone_horizon()):
        ext = bool(r["extendedFileMetadata"])
        rows.append({"remove": {
            "path": relativize(r["path"], tp),
            "deletionTimestamp": r["deletionTimestamp"],
            "dataChange": False,
            "extendedFileMetadata": ext,
            "partitionValues": r["partitionValues"] if ext else None,
            "size": r["size"] if ext else None,
            "tags": r["tags"],
        }})
    rows += [json.loads(ln) for ln in pm_lines]
    return rows


def _write_checkpoint_driver(snapshot: Snapshot, pm_lines) -> int:
    """Single-part classic checkpoint of a driver-replayable snapshot,
    written in this process by pyarrow. Returns n_actions."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    store = snapshot.store
    log_path = snapshot.segment.log_path
    tbl = pa.Table.from_pylist(_driver_state_rows(snapshot, pm_lines),
                               schema=to_arrow_schema(SINGLE_ACTION_SCHEMA))
    tmp = os.path.join(log_path, f".tmp_ckpt_{uuid.uuid4().hex}.parquet")
    # Any failure between creating tmp and the rename deletes it, so a
    # partially written .tmp_ckpt_* never accumulates in _delta_log.
    try:
        pq.write_table(tbl, tmp, compression="snappy")
        store.rename(tmp, fn.checkpoint_file_single(log_path,
                                                    snapshot.version))
    except Exception:
        try:
            store.delete(tmp)
        except FileNotFoundError:
            pass
        raise
    n_actions = len(snapshot._files_rows) + 2
    write_last_checkpoint(store, log_path, snapshot.version, n_actions, None)
    return n_actions


def _spark_write(store, df, tmp: str,
                 names: Callable[[int], List[str]]) -> List[str]:
    """Write ``df`` as parquet into the temp dir ``tmp`` and rename its
    N part files to ``names(N)``; returns those names. The temp dir is
    removed either way."""
    df.write.mode("overwrite").option("compression", "snappy").parquet(tmp)
    try:
        srcs = sorted(f for f in store.list_dir(tmp) if f.endswith(".parquet"))
        dsts = names(len(srcs))
        for src, dst in zip(srcs, dsts):
            store.rename(os.path.join(tmp, src), dst)
        return dsts
    finally:
        store.remove_tree(tmp)


def write_checkpoint(snapshot: Snapshot, parts: Optional[int] = None) -> int:
    """Write the checkpoint for ``snapshot`` + update ``_last_checkpoint``.
    Returns the number of actions checkpointed."""
    pm_lines = [to_json_line(snapshot.protocol).strip(),
                to_json_line(snapshot.metadata).strip()]
    pm_lines += [to_json_line(SetTransaction(app, v))
                 for app, v in sorted(snapshot.set_transactions.items())]
    pm_lines += [to_json_line(DomainMetadata(d, c))
                 for d, c in sorted(snapshot.domain_metadata.items())]
    is_v2 = TableConfig(snapshot.metadata.configuration) \
        .checkpoint_policy == "v2"
    if parts is None and not is_v2 and snapshot._driver_replayable():
        return _write_checkpoint_driver(snapshot, pm_lines)

    table_path = snapshot.table_path
    files = snapshot.files_df
    n_files = files.count()
    adds_df = _as_action(files, "add", F.struct(
        relativize_col("path", table_path).alias("path"),
        F.col("partitionValues"),
        F.col("size"),
        F.col("modificationTime"),
        F.coalesce(F.col("dataChange"), F.lit(False)).alias("dataChange"),
        F.col("stats"),
        F.col("tags"),
        F.col("baseRowId"),
        F.col("defaultRowCommitVersion"),
    ))
    # Tombstones still inside the retention window ride along so readers of
    # the checkpoint alone see them (InMemoryLogReplay.getTombstones).
    # extendedFileMetadata carries each tombstone's OWN flag (ADVICE
    # r13): the protocol says partitionValues/size/tags are only valid
    # when it is true, so writing a blanket false made conforming
    # readers drop the tags — losing the DV-sidecar reference the
    # VACUUM tombstone protection depends on after a checkpoint.
    # Engine-written removes (AddFile.remove) always set it true;
    # foreign-writer tombstones keep whatever they declared.
    ext = F.coalesce(F.col("extendedFileMetadata"), F.lit(False))
    tomb_df = _as_action(snapshot.tombstones_df, "remove", F.struct(
        relativize_col("path", table_path).alias("path"),
        F.col("deletionTimestamp"),
        F.lit(False).alias("dataChange"),
        ext.alias("extendedFileMetadata"),
        F.when(ext, F.col("partitionValues")).alias("partitionValues"),
        F.when(ext, F.col("size")).alias("size"),
        F.col("tags"),
        F.lit(None).cast("long").alias("baseRowId"),
        F.lit(None).cast("long").alias("defaultRowCommitVersion"),
    ))
    if parts is None:
        parts = max(1, math.ceil(n_files / ACTIONS_PER_PART))
    if is_v2:
        return _write_checkpoint_v2(snapshot, adds_df.unionByName(tomb_df),
                                    pm_lines, n_files, parts)

    state = (adds_df.unionByName(tomb_df)
             .unionByName(_json_lines_df(snapshot.spark, pm_lines))
             .repartition(parts))
    log_path, v = snapshot.segment.log_path, snapshot.version
    written = _spark_write(
        snapshot.store, state,
        os.path.join(log_path, f".tmp_ckpt_{uuid.uuid4().hex}"),
        lambda n: ([fn.checkpoint_file_single(log_path, v)] if n == 1
                   else fn.checkpoint_file_parts(log_path, v, n)))
    n_actions = n_files + 2  # approximation for _last_checkpoint "size"
    write_last_checkpoint(snapshot.store, log_path, v, n_actions,
                          len(written) if len(written) > 1 else None)
    return n_actions


def _write_checkpoint_v2(snapshot: Snapshot, state, pm_lines,
                         n_files: int, parts: int) -> int:
    """V2 (uuid-named) checkpoint — Delta protocol 'V2 Checkpoint
    Table Feature': the add/remove state lands in SIDECAR parquets
    under ``_delta_log/_sidecars/``; the manifest
    ``<version>.checkpoint.<uuid>.parquet`` carries protocol/metadata/
    txn/domainMetadata rows plus one SidecarFile reference per sidecar
    and a CheckpointMetadata self-description. Scale shape: the
    manifest stays O(sidecars + domains) rows no matter how many files
    the table has, so the driver-side P&M replay reads a TINY parquet
    while the file state streams distributed through the sidecars —
    and a recompute can rewrite one sidecar-sized slice at a time.
    Publication is the same temp-dir + LogStore-rename dance as
    classic; racing writers produce distinct uuids, and the segment
    picker treats any complete manifest as authoritative."""
    store = snapshot.store
    log_path = snapshot.segment.log_path
    uid = uuid.uuid4().hex
    written = _spark_write(
        store, state.repartition(parts),
        os.path.join(log_path, f".tmp_ckpt_{uid}"),
        lambda n: [fn.sidecar_file(log_path, f"{uid}-{i:05d}.parquet")
                   for i in range(n)])
    sidecars = [SidecarFile(os.path.basename(dst), *store.stat(dst))
                for dst in written]

    manifest_lines = list(pm_lines)
    manifest_lines.append(to_json_line(
        CheckpointMetadata(snapshot.version)))
    manifest_lines += [to_json_line(s) for s in sidecars]
    _spark_write(
        store, _json_lines_df(snapshot.spark, manifest_lines).coalesce(1),
        os.path.join(log_path, f".tmp_ckpt_m_{uid}"),
        lambda n: [fn.checkpoint_file_v2(log_path, snapshot.version, uid)])

    n_actions = n_files + 2
    write_last_checkpoint(store, log_path, snapshot.version, n_actions)
    return n_actions
