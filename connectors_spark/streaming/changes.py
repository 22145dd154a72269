"""Change feed over table versions (reference ST1-ST4).

The streaming unit of the reference is the table VERSION, not the row:
``getChanges`` yields each commit's actions in order
(DeltaLogImpl.scala:106-130) and the Flink source validates them before
handing rows downstream (ActionProcessor.processActions,
flink/.../processor/ActionProcessor.java:56-110). :func:`validated_adds`
is that validation, shared by ``changes_df`` and the ``delta_stream``
source:

- only dataChange AddFiles pass;
- a RemoveFile raises unless ``ignoreDeletes``;
- an add+remove mix raises unless ``ignoreChanges``;
- a mid-stream Metadata/Protocol change raises.

``changes_df`` reads the validated AddFiles of every version through
``Snapshot.read_files``, each tagged with its commit version: ONE
DataFrame with a ``_commit_version`` column, partition values from the
log and each file's deletion vector at that version applied — the rows
the streaming source delivers for the same versions.
"""

from __future__ import annotations

import dataclasses
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame

from ..errors import DeltaError
from ..log.actions import AddFile, Metadata, Protocol, RemoveFile
from ..log.snapshot import canonical_path


def validated_adds(version: int, actions, exempt: bool,
                   ignore_deletes: bool = False,
                   ignore_changes: bool = False) -> List[AddFile]:
    """The dataChange AddFiles of one commit, after the ST3 rules.
    ``exempt`` skips the rules for a version a stream may start AT (the
    creation commit, or an initial remove/metadata commit;
    ActionProcessor.java:45-52)."""
    adds = [a for a in actions if isinstance(a, AddFile) and a.dataChange]
    if exempt:
        return adds
    removes = any(isinstance(a, RemoveFile) and a.dataChange
                  for a in actions)
    if any(isinstance(a, (Metadata, Protocol)) for a in actions):
        raise DeltaError(
            f"table metadata/protocol changed at version {version} "
            f"mid-stream")
    if removes and adds and not ignore_changes:
        raise DeltaError(
            f"version {version} mixes adds and removes (an UPDATE/"
            f"MERGE/overwrite); set ignoreChanges (ignore_changes) to "
            f"stream its added rows anyway")
    if removes and not adds and not ignore_deletes:
        raise DeltaError(
            f"version {version} deletes data; set ignoreDeletes "
            f"(ignore_deletes) to skip delete-only versions")
    return adds


def validated_adds_per_version(
        table, start_version: int, end_version: Optional[int] = None,
        ignore_deletes: bool = False, ignore_changes: bool = False,
        allow_initial_changes: bool = True,
        fail_on_data_loss: bool = False) -> List[Tuple[int, List[AddFile]]]:
    """(version, dataChange AddFiles) per commit, with ST3 validation.
    ``allow_initial_changes`` exempts ``start_version`` itself."""
    out: List[Tuple[int, List[AddFile]]] = []
    for version, actions in table.log.get_changes(start_version,
                                                  fail_on_data_loss):
        if end_version is not None and version > end_version:
            break
        out.append((version, validated_adds(
            version, actions,
            version == start_version and allow_initial_changes,
            ignore_deletes, ignore_changes)))
    return out


def changes_df(table, start_version: int = 0,
               end_version: Optional[int] = None,
               ignore_deletes: bool = False,
               ignore_changes: bool = False,
               allow_initial_changes: bool = False) -> DataFrame:
    """Added rows per version as one DataFrame (+``_commit_version``).

    ``allow_initial_changes`` exempts ``start_version`` from ST3
    validation (needed when streaming from version 0: the creation
    commit necessarily carries Protocol+Metadata)."""
    snap = table.log.snapshot()
    files, versions = [], []
    for version, adds in validated_adds_per_version(
            table, start_version, end_version,
            ignore_deletes=ignore_deletes, ignore_changes=ignore_changes,
            allow_initial_changes=allow_initial_changes):
        for a in adds:
            files.append(dataclasses.replace(
                a, path=canonical_path(a.path, snap.table_path)))
            versions.append(version)
    return snap.read_files(files, versions)
