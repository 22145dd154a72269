"""Deletion vectors: row-level deletes without rewriting data files.

A DV-delete records WHICH row positions of a data file are deleted
instead of copying the survivors into a new file. The deleted positions
live in a Parquet sidecar under ``_deletion_vectors/``; the re-added
``AddFile`` keeps its physical path and stats and points at the sidecar
through ``tags`` (``deletionVector`` = sidecar path relative to the
table root, ``dvCardinality`` = deleted-row count). Readers apply the
vector as a ``(file, row_index)`` anti-join using the Parquet source's
``_metadata.file_path`` / ``_metadata.row_index`` columns — fully
JVM-side, no UDFs.

Why it matters at scale: deleting 0.1% of rows scattered across a
100 TB table rewrites ~100 TB under copy-on-write but writes only the
deleted positions (MBs) under DVs; the read-side cost is one hash
anti-join against a relation bounded by the number of deleted rows.
This is the modern Delta ``deletionVectors`` feature re-expressed with
Spark primitives (the reference's action model carries ``tags`` for
exactly this kind of file-level annotation, actions.scala:109-132).

Protocol rules implemented here:
- a new DV for a file REPLACES its previous DV, so each sidecar write
  unions the file's prior deleted positions with the new ones;
- a sidecar may serve many files of one commit; the authoritative
  sidecar for a file is the one its active ``AddFile`` tag names —
  stale (file, sidecar) combinations are filtered out at read;
- VACUUM must keep any sidecar referenced by an active file
  (table.TableMaintenance.vacuum) and may reclaim superseded ones
  after the retention window like any unreferenced file.
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
import uuid
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .log.snapshot import canonical_path, canonical_path_col

DV_DIR = "_deletion_vectors"
DV_TAG = "deletionVector"
DV_CARD_TAG = "dvCardinality"

_DV_SCHEMA = T.StructType([
    T.StructField("file_path", T.StringType()),
    T.StructField("row_index", T.LongType()),
])


def dv_pairs(files: Sequence) -> List[Tuple[str, str]]:
    """(canonical file path, sidecar rel path) for files carrying a DV.
    ``files`` yields objects/Rows with ``path`` and ``tags``."""
    out = []
    for f in files:
        tags = (f.tags if not hasattr(f, "asDict") else f["tags"]) or {}
        if tags.get(DV_TAG):
            out.append((f.path if not hasattr(f, "asDict") else f["path"],
                        tags[DV_TAG]))
    return out


def _read_sidecars(spark: SparkSession, table_path: str,
                   sidecars: Sequence[str]) -> DataFrame:
    """All rows of the given sidecar rel paths, tagged with the
    normalized absolute path of the sidecar each row came from."""
    dv = (spark.read.schema(_DV_SCHEMA)
          .parquet(*[canonical_path(rel, table_path) for rel in sidecars])
          .withColumn("__fn", F.input_file_name()))
    # input_file_name is a file:// URI with %-escaping; normalize it the
    # same way log paths are normalized so equality joins are exact
    return (dv.withColumn("__sidecar",
                          canonical_path_col("__fn", table_path))
            .drop("__fn"))


def dv_relation(spark: SparkSession, table_path: str,
                pairs: List[Tuple[str, str]]) -> Optional[DataFrame]:
    """Deleted ``(file_path, row_index)`` rows for the given
    (file, sidecar) assignments — only combinations the active tags
    actually name, so rows for files whose DV was since replaced don't
    leak in. Returns None when ``pairs`` is empty."""
    if not pairs:
        return None
    dv = _read_sidecars(spark, table_path, sorted({r for _p, r in pairs}))
    from .localrel import local_rows_df
    auth = local_rows_df(
        spark,
        [(p, canonical_path(rel, table_path)) for p, rel in pairs],
        "file_path: string, __auth: string")
    return (dv.join(F.broadcast(auth),
                    (dv["file_path"] == auth["file_path"])
                    & (dv["__sidecar"] == auth["__auth"]), "left_semi")
            .select("file_path", "row_index"))


def dv_relation_keyed(spark: SparkSession, table_path: str,
                      triples: List[Tuple[str, str, int]]
                      ) -> Optional[DataFrame]:
    """Like :func:`dv_relation` but each (file, sidecar) assignment
    carries a caller key (e.g. a commit version), returned as
    ``__dvkey`` — one output row per (assignment, deleted position), so
    the same file can be filtered differently per key (the change-feed
    case: a file re-added at several versions with growing DVs)."""
    if not triples:
        return None
    dv = _read_sidecars(spark, table_path,
                        sorted({r for _p, r, _k in triples}))
    from .localrel import local_rows_df
    auth = local_rows_df(
        spark,
        [(p, canonical_path(rel, table_path), k) for p, rel, k in triples],
        "file_path: string, __auth: string, __dvkey: long")
    return (dv.join(F.broadcast(auth),
                    (dv["file_path"] == auth["file_path"])
                    & (dv["__sidecar"] == auth["__auth"]))
            .select(dv["file_path"], "row_index", "__dvkey"))


def apply_dv(data: DataFrame, dv: Optional[DataFrame],
             file_col: str = "__file",
             index_col: str = "__ri") -> DataFrame:
    """Filter out deleted positions: anti-join on (file, row index)."""
    if dv is None:
        return data
    return data.join(
        dv, (data[file_col] == dv["file_path"])
        & (data[index_col] == dv["row_index"]), "left_anti")


def stage_dv(spark: SparkSession, table_path: str,
             dv_df: DataFrame) -> Tuple[str, Dict[str, int]]:
    """Write ``dv_df`` (file_path, row_index) as ONE sidecar parquet under
    ``_deletion_vectors/`` and return (rel path, per-file cardinality).

    The cardinality collect is metadata-sized (one row per touched
    file). A single output file keeps the sidecar read a one-file scan;
    DV volume is bounded by deleted-row count, not table size — at
    billions of deleted positions, drop the coalesce and let the
    sidecar be multi-file.
    """
    staging = os.path.join(table_path, f"_staging_{uuid.uuid4().hex}")
    (dv_df.select("file_path", "row_index").distinct().coalesce(1)
     .write.mode("overwrite").parquet(staging))
    dest_dir = os.path.join(table_path, DV_DIR)
    os.makedirs(dest_dir, exist_ok=True)
    rel = None
    try:
        for name in os.listdir(staging):
            if name.endswith(".parquet"):
                dest = os.path.join(dest_dir, f"dv-{uuid.uuid4().hex}.parquet")
                os.rename(os.path.join(staging, name), dest)
                rel = "/".join(
                    urllib.parse.quote(s)
                    for s in os.path.relpath(dest, table_path).split("/"))
                break
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    assert rel is not None, "deletion-vector staging produced no parquet"
    counts = {r["file_path"]: r["n"] for r in
              (spark.read.schema(_DV_SCHEMA)
               .parquet(canonical_path(rel, table_path))
               .groupBy("file_path").agg(F.count("*").alias("n"))
               .collect())}
    return rel, counts
