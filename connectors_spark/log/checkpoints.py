"""Checkpoint writing (reference: Checkpoints.writeCheckpoint,
``Checkpoints.scala:221-312``; multi-part naming FileNames.scala:61-64).

A checkpoint is the full snapshot state as SingleAction-shaped Parquet:
all active AddFiles (paths re-relativized), RemoveFile tombstones younger
than the table's ``delta.deletedFileRetentionDuration``, latest Protocol +
Metadata, the last SetTransaction per appId and the active metadata
domains.

There is one writer, and it runs in this process, the way the reference
Standalone writes checkpoints: the driver fold's planes
(``Snapshot._files_rows`` and ``retained_tombstone_rows``) become
actions, and pyarrow writes them one record batch at a time in one of
three shapes:

- classic single-part, the default up to ``ACTIONS_PER_PART`` files;
- classic multi-part, split by ``ACTIONS_PER_PART`` or by the ``parts``
  argument; readers take the parts only as a complete set
  (segment._complete_checkpoints);
- v2, under the table policy ``v2``: the add/remove state lands in
  sidecar parquets under ``_delta_log/_sidecars/``, and the manifest
  ``<version>.checkpoint.<uuid>.parquet`` carries protocol/metadata/
  txn/domainMetadata rows, a CheckpointMetadata row and one SidecarFile
  reference per sidecar.

Each file is published through the snapshot's LogStore as one atomic
bytes write, so every store takes checkpoints, and ``_last_checkpoint``
is written after the files it names.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import uuid
from typing import Iterator, List, Optional

from ..config import TableConfig
from . import filenames as fn
from .actions import (SINGLE_ACTION_SCHEMA, CheckpointMetadata,
                      DomainMetadata, SetTransaction, SidecarFile,
                      to_json_line)
from .segment import write_last_checkpoint
from .snapshot import FOLD_BATCH_ROWS, Snapshot, relativize

# Target actions per checkpoint part; ~500k AddFile rows keeps a part well
# under typical 128MB row-group targets.
ACTIONS_PER_PART = 500_000


def _state_actions(snapshot: Snapshot, tombstones, pm_lines
                   ) -> Iterator[dict]:
    """SINGLE_ACTION_SCHEMA rows (python dicts), lazily: adds from the
    fold's file plane, the retained ``tombstones`` (each remove's own
    extendedFileMetadata gating partitionValues and size), then the
    P&M/txn/domain lines."""
    tp = snapshot.table_path
    for r in snapshot._files_rows:
        yield {"add": {
            "path": relativize(r["path"], tp),
            "partitionValues": r["partitionValues"],
            "size": r["size"],
            "modificationTime": r["modificationTime"],
            "dataChange": bool(r["dataChange"]),
            "stats": r["stats"],
            "tags": r["tags"],
            "baseRowId": r["baseRowId"],
            "defaultRowCommitVersion": r["defaultRowCommitVersion"],
        }}
    # Tombstones still inside the retention window ride along so readers
    # of the checkpoint alone see them (InMemoryLogReplay.getTombstones).
    # The protocol makes partitionValues/size valid only under
    # extendedFileMetadata, so each keeps its own flag: engine-written
    # removes set it, foreign ones keep what they declared, and tags
    # (the DV-sidecar reference VACUUM protects) always ride along.
    for r in tombstones:
        ext = bool(r["extendedFileMetadata"])
        yield {"remove": {
            "path": relativize(r["path"], tp),
            "deletionTimestamp": r["deletionTimestamp"],
            "dataChange": False,
            "extendedFileMetadata": ext,
            "partitionValues": r["partitionValues"] if ext else None,
            "size": r["size"] if ext else None,
            "tags": r["tags"],
        }}
    for ln in pm_lines:
        yield json.loads(ln)


def _parquet_bytes(actions: Iterator[dict], n: int, schema) -> bytes:
    """The next ``n`` of ``actions`` as one snappy parquet, written one
    record batch at a time."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    sink = pa.BufferOutputStream()
    with pq.ParquetWriter(sink, schema, compression="snappy") as w:
        while n > 0:
            chunk = list(itertools.islice(actions, min(n, FOLD_BATCH_ROWS)))
            if not chunk:
                break
            w.write_batch(pa.RecordBatch.from_pylist(chunk, schema=schema))
            n -= len(chunk)
    return sink.getvalue().to_pybytes()


def _split(n: int, parts: int) -> List[int]:
    """``n`` rows as ``parts`` contiguous part sizes, as even as can be."""
    return [n * (i + 1) // parts - n * i // parts for i in range(parts)]


def write_checkpoint(snapshot: Snapshot, parts: Optional[int] = None) -> int:
    """Write the checkpoint for ``snapshot`` + update ``_last_checkpoint``.
    ``parts`` forces a classic checkpoint of that many parts, or a v2
    checkpoint of that many sidecars. Returns the number of actions
    checkpointed."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    pm_lines = [to_json_line(snapshot.protocol).strip(),
                to_json_line(snapshot.metadata).strip()]
    pm_lines += [to_json_line(SetTransaction(app, v))
                 for app, v in sorted(snapshot.set_transactions.items())]
    pm_lines += [to_json_line(DomainMetadata(d, c))
                 for d, c in sorted(snapshot.domain_metadata.items())]
    tombstones = snapshot.retained_tombstone_rows(
        snapshot.tombstone_horizon())
    n_state = len(snapshot._files_rows) + len(tombstones)
    if parts is None:
        parts = max(1, math.ceil(len(snapshot._files_rows)
                                 / ACTIONS_PER_PART))
    schema = to_arrow_schema(SINGLE_ACTION_SCHEMA)
    store, log_path = snapshot.store, snapshot.segment.log_path
    v = snapshot.version
    n_actions = n_state + len(pm_lines)

    if TableConfig(snapshot.metadata.configuration).checkpoint_policy \
            == "v2":
        actions = _state_actions(snapshot, tombstones, [])
        side_schema = pa.schema([schema.field("add"),
                                 schema.field("remove")])
        uid = uuid.uuid4().hex
        sidecars = []
        for i, n in enumerate(_split(n_state, parts)):
            dst = fn.sidecar_file(log_path, f"{uid}-{i:05d}.parquet")
            store.write_bytes(dst, _parquet_bytes(actions, n, side_schema),
                              overwrite=True)
            sidecars.append(SidecarFile(os.path.basename(dst),
                                        *store.stat(dst)))
        manifest = (pm_lines + [to_json_line(CheckpointMetadata(v))]
                    + [to_json_line(s) for s in sidecars])
        store.write_bytes(
            fn.checkpoint_file_v2(log_path, v, uid),
            _parquet_bytes(map(json.loads, manifest), len(manifest),
                           schema),
            overwrite=True)
        write_last_checkpoint(store, log_path, v, n_actions)
        return n_actions

    actions = _state_actions(snapshot, tombstones, pm_lines)
    names = ([fn.checkpoint_file_single(log_path, v)] if parts == 1
             else fn.checkpoint_file_parts(log_path, v, parts))
    for dst, n in zip(names, _split(n_actions, parts)):
        store.write_bytes(dst, _parquet_bytes(actions, n, schema),
                          overwrite=True)
    write_last_checkpoint(store, log_path, v, n_actions,
                          parts if parts > 1 else None)
    return n_actions
