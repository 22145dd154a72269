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
from typing import Callable, Dict, Sequence, Tuple

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
                entries: Sequence[Tuple[str, str, int]]) -> DataFrame:
    """Deleted ``(file_path, row_index, __dvkey)`` rows for the given
    (file, sidecar rel path, key) assignments. Only combinations an
    assignment names pass, so rows for files whose DV was since
    replaced don't leak in. The key tells apart the DVs one file
    carries at different commit versions (a change feed); snapshot
    reads pass a constant. ``entries`` must not be empty."""
    dv = _read_sidecars(spark, table_path,
                        sorted({s for _p, s, _k in entries}))
    from .localrel import local_rows_df
    auth = local_rows_df(
        spark,
        [(p, canonical_path(s, table_path), k) for p, s, k in entries],
        "file_path: string, __auth: string, __dvkey: long")
    return (dv.join(F.broadcast(auth),
                    (dv["file_path"] == auth["file_path"])
                    & (dv["__sidecar"] == auth["__auth"]))
            .select(dv["file_path"], "row_index", "__dvkey"))


def apply_dv(data: DataFrame, dv: DataFrame, key) -> DataFrame:
    """Drop the deleted positions from ``data`` (which carries
    ``__file`` and ``__ri``): one anti-join on (file, key, row index),
    ``key`` being the Column that matches ``dv``'s ``__dvkey``."""
    return data.join(
        dv, (data["__file"] == dv["file_path"]) & (key == dv["__dvkey"])
        & (data["__ri"] == dv["row_index"]), "left_anti")


def copy_sidecar(src: str, dest: str, place: Callable[[str], str]) -> None:
    """Write the sidecar ``src`` to ``dest`` with each row's data-file
    path mapped through ``place``: a deep clone copies the data files
    too, and a sidecar names its files by absolute path. Idempotent (a
    retried task rewrites the same bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    tbl = pq.read_table(src)
    i = tbl.schema.get_field_index("file_path")
    tbl = tbl.set_column(i, "file_path", pa.array(
        [place(p) for p in tbl.column(i).to_pylist()], pa.string()))
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(tbl, dest)


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
