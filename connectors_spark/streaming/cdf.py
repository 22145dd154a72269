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

The result is ONE DataFrame regardless of version count: up to three
distributed Parquet scans (cdc files / insert files / delete files), each
with ``_commit_version`` attached via a broadcast path-keyed join -- the
same mechanism as changes_df, so a multi-version feed reads every file
exactly once and stays fully JVM-side.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dv import DV_TAG
from ..errors import DeltaError
from ..log.actions import AddCDCFile, AddFile, RemoveFile
from ..log.snapshot import canonical_path, canonical_path_col
from ..writer import CHANGE_TYPE_COL

# (canonical file path, commit version, partitionValues or None,
#  deletion-vector sidecar rel path or None,
#  baseRowId or None, defaultRowCommitVersion or None)
_FileRow = Tuple[str, int, Optional[dict], Optional[str],
                 Optional[int], Optional[int]]


def _v2_change_type(path: str) -> Optional[str]:
    """Change type of a folded-write CDC file, parsed from the
    ``_change_data/_change_type=<t>/...`` directory of its canonical
    path — None for legacy flat cdc files (which carry _change_type as
    an in-file column)."""
    for seg in path.split("/"):
        if seg.startswith("_change_type="):
            return seg.split("=", 1)[1]
    return None


def _scan_tagged(table, snap, file_rows: List[_FileRow],
                 schema: T.StructType, with_partition_cols: bool,
                 change_type: Optional[str],
                 with_row_ids: bool = False) -> DataFrame:
    """Scan ``file_rows`` with ``schema``, attach ``_commit_version`` (and
    partition columns decoded from the log when the files lack them).
    Files carrying a deletion vector contribute only their live rows:
    an added file applies its new DV, a removed file the DV it had when
    removed — so a synthesized DV-delete version nets out to exactly
    the newly-deleted rows."""
    from ..dv import dv_relation_keyed
    spark = table.spark
    meta = snap.metadata
    nmap = meta.name_map()          # logical -> physical (identity
    #                                 when column mapping is off)
    paths = sorted({r[0] for r in file_rows})
    dv_triples = sorted({(r[0], r[3], r[1]) for r in file_rows if r[3]})
    reader = spark.read.schema(schema).parquet(*paths)
    if dv_triples or with_row_ids:
        reader = reader.withColumn("__ri", F.col("_metadata.row_index"))
    data = reader.withColumn("__fn", F.input_file_name())
    data = data.withColumn(
        "__file", canonical_path_col("__fn", snap.table_path)).drop("__fn")
    # partitionValues keys and decoded columns live in the PHYSICAL
    # name domain; the final projection aliases back to logical
    pcols = meta.physical_partition_columns if with_partition_cols \
        else []
    map_schema = T.StructType(
        [T.StructField("__file", T.StringType()),
         T.StructField("_commit_version", T.LongType()),
         T.StructField("__base", T.LongType()),
         T.StructField("__dcv", T.LongType())]
        + [T.StructField(f"__pv_{c}", T.StringType()) for c in pcols])
    map_rows = [tuple([p, v, base, dcv]
                      + [(pv or {}).get(c) for c in pcols])
                for p, v, pv, _dv, base, dcv in file_rows]
    from ..localrel import local_rows_df
    pv_df = local_rows_df(spark, map_rows, map_schema)
    for f in meta.physical_partition_schema.fields:
        if f.name in pcols:
            pv_df = pv_df.withColumn(
                f.name, F.col(f"__pv_{f.name}").cast(f.dataType))
    pv_df = pv_df.drop(*[f"__pv_{c}" for c in pcols])

    out = data.join(F.broadcast(pv_df), "__file")
    if dv_triples:
        # per-version DV application: the map join above fans a file out
        # to each version that references it, so the anti-join must key
        # on (file, version, position) — the same file may carry a
        # different (growing) DV at each version.
        dvv = dv_relation_keyed(spark, snap.table_path, list(dv_triples))
        out = out.join(
            dvv, (out["__file"] == dvv["file_path"])
            & (out["_commit_version"] == dvv["__dvkey"])
            & (out["__ri"] == dvv["row_index"]), "left_anti")
        out = out.drop("__ri") if not with_row_ids else out
    out = out.drop("__file")
    if change_type is not None:
        out = out.withColumn(CHANGE_TYPE_COL, F.lit(change_type))
    rid_cols = []
    if with_row_ids:
        # same coalesce as Snapshot.to_df(with_row_ids=True): a file
        # rewritten under row tracking carries MATERIALIZED id/commit-
        # version columns (per-table names from metadata, ADVICE r11);
        # fresh files derive id = baseRowId + physical row index. CDC
        # files (no AddFile, so no base/dcv) carry MATERIALIZED ids
        # written by the DML (delete/update pre+post keep the row's id;
        # a postimage's commit version IS this commit, so the final leg
        # falls back to _commit_version — gated on a known id so
        # pre-enablement history still reads honest NULLs). Remaining
        # NULL surface (disclosed): rows INSERTED via physical CDC —
        # their fresh ids are assigned commit-side from the new file's
        # baseRowId, which no pre-commit CDC write can know.
        from ..log.snapshot import materialized_rt_cols
        rid_c, rcv_c = materialized_rt_cols(meta)
        has_mat = rid_c in out.columns
        mat_rid = F.col(rid_c) if has_mat else F.lit(None).cast("long")
        mat_rcv = F.col(rcv_c) if has_mat else F.lit(None).cast("long")
        # The _commit_version fallback is only sound where the row's
        # last modification IS this commit: rows a CDC/synthesized leg
        # tags insert or update_postimage. On a delete leg a foreign
        # RemoveFile with no defaultRowCommitVersion but a materialized
        # id would otherwise read the DELETE's version as the row's
        # commit version instead of an honest NULL (ADVICE r13).
        ct = (F.col(CHANGE_TYPE_COL) if change_type is None
              else F.lit(change_type))
        out = (out.withColumn(
                   "_row_id",
                   F.coalesce(mat_rid, F.col("__base") + F.col("__ri")))
               .withColumn(
                   "_row_commit_version",
                   F.coalesce(mat_rcv, F.col("__dcv"),
                              F.when(ct.isin("insert",
                                             "update_postimage") &
                                     F.col("_row_id").isNotNull(),
                                     F.col("_commit_version")))))
        rid_cols = [F.col("_row_id"), F.col("_row_commit_version")]
    return out.select(
        *[F.col(nmap[f.name]).alias(f.name)
          for f in meta.schema.fields],
        CHANGE_TYPE_COL, "_commit_version", *rid_cols)


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

    cdc_rows: List[_FileRow] = []
    # v2 CDC files (r15 folded DML write): partition columns and the
    # change type live in the file's DIRECTORY layout
    # (_change_data/_change_type=<t>/<pdirs>/cdc2-*) and on the action
    # (partitionValues), not as in-file columns — grouped per change
    # type so each group reads through the same partition-attach path
    # as synthesized legs. Legacy flat cdc files keep the in-file
    # format and the original leg.
    cdc2_rows: dict = {}
    ins_rows: List[_FileRow] = []
    del_rows: List[_FileRow] = []
    for version, actions in table.log.get_changes(start_version):
        if end_version is not None and version > end_version:
            break
        cdcs = [a for a in actions if isinstance(a, AddCDCFile)]
        if cdcs:
            for a in cdcs:
                cp = canonical_path(a.path, snap.table_path)
                ct = _v2_change_type(cp)
                if ct is not None:
                    cdc2_rows.setdefault(ct, []).append(
                        (cp, version, a.partitionValues or {},
                         None, None, None))
                else:
                    cdc_rows.append((cp, version, None, None,
                                     None, None))
            continue
        ins_rows += [(canonical_path(a.path, snap.table_path),
                      version, a.partitionValues,
                      (a.tags or {}).get(DV_TAG),
                      a.baseRowId, a.defaultRowCommitVersion)
                     for a in actions
                     if isinstance(a, AddFile) and a.dataChange]
        del_rows += [(canonical_path(a.path, snap.table_path),
                      version, a.partitionValues,
                      (a.tags or {}).get(DV_TAG),
                      a.baseRowId, a.defaultRowCommitVersion)
                     for a in actions
                     if isinstance(a, RemoveFile) and a.dataChange]

    from ..log.snapshot import _with_rt_fields, materialized_rt_cols
    rid_c, rcv_c = materialized_rt_cols(meta)

    def rt(s):
        return _with_rt_fields(s, rid_c, rcv_c) if with_row_ids else s

    out_schema = T.StructType(
        meta.schema.fields
        + [T.StructField(CHANGE_TYPE_COL, T.StringType()),
           T.StructField("_commit_version", T.LongType())]
        + ([T.StructField("_row_id", T.LongType()),
            T.StructField("_row_commit_version", T.LongType())]
           if with_row_ids else []))
    parts: List[DataFrame] = []
    if cdc_rows:
        # Legacy CDC files carry every table column (partition cols
        # included) plus the physical _change_type column.
        cdc_schema = T.StructType(
            list(meta.physical_schema.fields)
            + [T.StructField(CHANGE_TYPE_COL, T.StringType())])
        parts.append(_scan_tagged(table, snap, cdc_rows, rt(cdc_schema),
                                  with_partition_cols=False,
                                  change_type=None,
                                  with_row_ids=with_row_ids))
    for ct in sorted(cdc2_rows):
        # v2 CDC files carry only data columns (plus materialized row
        # ids); partition columns come from the action's
        # partitionValues, the change type from the path — the exact
        # attach path the synthesized insert/delete legs already use.
        parts.append(_scan_tagged(table, snap, cdc2_rows[ct],
                                  rt(meta.physical_data_schema),
                                  with_partition_cols=True,
                                  change_type=ct,
                                  with_row_ids=with_row_ids))
    if ins_rows:
        parts.append(_scan_tagged(table, snap, ins_rows,
                                  rt(meta.physical_data_schema),
                                  with_partition_cols=True,
                                  change_type="insert",
                                  with_row_ids=with_row_ids))
    if del_rows:
        parts.append(_scan_tagged(table, snap, del_rows,
                                  rt(meta.physical_data_schema),
                                  with_partition_cols=True,
                                  change_type="delete",
                                  with_row_ids=with_row_ids))
    if not parts:
        return table.spark.createDataFrame([], out_schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
