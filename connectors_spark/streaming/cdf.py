"""Row-level Change Data Feed (CDF) over the commit log.

The reference carries the ``AddCDCFile`` action in its data model
(actions.scala:164-172: "CDC data file for a version (read side ignores
unless CDC reader)") but ships no CDC reader. This module is that reader,
built on the Delta CDF protocol rules:

- a commit that contains ``AddCDCFile`` actions describes its row-level
  changes EXACTLY by those files (each row tagged ``_change_type`` in
  {insert, delete, update_preimage, update_postimage});
- a commit with no CDC files synthesizes changes from its dataChange
  actions: ``AddFile`` rows are inserts, ``RemoveFile`` rows are deletes
  (the removed Parquet is still readable until VACUUM reclaims it);
- ``dataChange=false`` commits (OPTIMIZE / Z-order) change no rows and
  emit nothing.

Change files follow delta-spark's layout: each carries the table's data
columns plus ``_change_type`` and lives at
``_change_data/<partition dirs>/cdc-*.parquet``; partition columns come
from the ``AddCDCFile``'s ``partitionValues``, exactly as for the
synthesized legs' data files.

The result is ONE DataFrame regardless of version count: up to three
legs (cdc files / added files / removed files), each read once through
``Snapshot.read_files`` with every file tagged by its commit version.
That core attaches ``_commit_version``, partition values and row-id
bases from the log and applies deletion vectors per version: an added
file contributes its live rows under its new DV, a removed file those
under the DV it had when removed, so a synthesized DV-delete version
nets out to exactly the newly deleted rows.
"""

from __future__ import annotations

import dataclasses
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import DeltaError
from ..localrel import local_rows_df
from ..log.actions import AddCDCFile, AddFile, RemoveFile
from ..log.snapshot import canonical_path
from ..writer import CHANGE_TYPE_COL


def table_changes(table, start_version: int = 0,
                  end_version: Optional[int] = None,
                  with_row_ids: bool = False) -> DataFrame:
    """Row-level changes in ``[start_version, end_version]``: the table's
    columns plus ``_change_type`` and ``_commit_version``.
    ``with_row_ids=True`` (row-tracked tables) appends ``_row_id`` /
    ``_row_commit_version`` — the natural join key for incremental
    downstream consumers (the spec's Row Tracking exists for exactly
    this): an UPDATE's delete+insert pair for the same logical row
    shares one ``_row_id`` across versions."""
    snap = table.log.snapshot()
    meta = snap.metadata
    if with_row_ids:
        from ..config import TableConfig
        if not TableConfig(meta.configuration).enable_row_tracking:
            raise DeltaError(
                "row ids requested but delta.enableRowTracking is "
                "not set on this table")

    # change type -> (files with physical paths, commit versions);
    # None is the cdc leg, whose files carry their own _change_type
    legs: Dict[Optional[str], Tuple[List, List[int]]] = {
        None: ([], []), "insert": ([], []), "delete": ([], [])}
    for version, actions in table.log.get_changes(start_version):
        if end_version is not None and version > end_version:
            break
        picked = [(None, a) for a in actions if isinstance(a, AddCDCFile)]
        if not picked:
            picked = [("insert" if isinstance(a, AddFile) else "delete", a)
                      for a in actions
                      if isinstance(a, (AddFile, RemoveFile))
                      and a.dataChange]
        for ct, a in picked:
            legs[ct][0].append(dataclasses.replace(
                a, path=canonical_path(a.path, snap.table_path)))
            legs[ct][1].append(version)

    out_schema = T.StructType(
        meta.schema.fields
        + [T.StructField(CHANGE_TYPE_COL, T.StringType()),
           T.StructField("_commit_version", T.LongType())]
        + ([T.StructField("_row_id", T.LongType()),
            T.StructField("_row_commit_version", T.LongType())]
           if with_row_ids else []))
    out = None
    for ct, (files, versions) in legs.items():
        if not files:
            continue
        df = snap.read_files(
            files, versions, with_row_ids=with_row_ids,
            extra_fields=[] if ct else [out_schema[CHANGE_TYPE_COL]])
        if ct:
            df = df.withColumn(CHANGE_TYPE_COL, F.lit(ct))
        if with_row_ids:
            # A row whose last change IS this commit (an insert or an
            # update postimage) falls back to _commit_version; gated on
            # a known id so history from before row tracking reads
            # honest NULLs. Not on a delete leg: a foreign RemoveFile
            # without defaultRowCommitVersion must not report the
            # DELETE's version. Remaining NULL surface: rows inserted
            # through a cdc file, whose fresh ids come from the new
            # file's baseRowId, which no pre-commit cdc write knows.
            df = df.withColumn("_row_commit_version", F.coalesce(
                F.col("_row_commit_version"),
                F.when(F.col(CHANGE_TYPE_COL).isin(
                    "insert", "update_postimage")
                    & F.col("_row_id").isNotNull(),
                    F.col("_commit_version"))))
        df = df.select(*out_schema.fieldNames())
        out = df if out is None else out.unionByName(df)
    if out is None:
        return local_rows_df(table.spark, [], out_schema)
    return out
