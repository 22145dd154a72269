"""CONVERT TO DELTA: adopt an existing Parquet directory (flat or
Hive-partitioned) into a Delta table WITHOUT rewriting data.

The commit writes one AddFile per existing Parquet file (dataChange
true, partition values parsed from Hive ``col=value`` path segments,
URL-unescaped). This is the onboarding operator the reference family
covers via delta-spark's converter; file adoption beats rewrite by the
full dataset size — at 100 TB, conversion is a metadata-only commit.

Note on path parsing: for ADOPTED files the directory layout is the
only source of partition values, so parsing here is correct; for tables
WE wrote, partitionValues in the log stay authoritative (SURVEY §4:
never parse paths when the log knows better).
"""

from __future__ import annotations

import os
import time
import urllib.parse
from typing import Dict, List, Optional, Sequence

from pyspark.sql import SparkSession

from ..errors import DeltaError
from ..log.actions import AddFile
from ..writer import file_stats_json


def _find_parquet_files(root: str) -> List[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        if "_delta_log" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(dirpath, f))
    return sorted(out)


def _partition_values_from_path(rel_path: str,
                                partition_columns: Sequence[str]
                                ) -> Dict[str, Optional[str]]:
    vals: Dict[str, Optional[str]] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" \
            else urllib.parse.unquote(v)
    missing = [c for c in partition_columns if c not in vals]
    if missing:
        raise DeltaError(
            f"file {rel_path!r} lacks partition dir(s) for {missing}")
    return {c: vals[c] for c in partition_columns}


def convert_to_delta(spark: SparkSession, path: str,
                     partition_by: Optional[Sequence[str]] = None) -> int:
    """Create version 0 adopting every Parquet file under ``path``.

    ``partition_by`` must name the Hive layout columns when the
    directory is partitioned (their types are inferred by Spark from
    the directory scan). Returns the committed version (0).
    """
    from ..table import DeltaTable

    root = path[len("file:"):] if path.startswith("file:") else path
    table = DeltaTable.for_path(spark, path)
    if table.log.table_exists():
        raise DeltaError(f"{path} is already a Delta table")
    files = _find_parquet_files(root)
    if not files:
        raise DeltaError(f"no parquet files under {path}")

    pcols = list(partition_by or [])
    # Schema (incl. typed partition columns) from Spark's own directory
    # inference — one footer-only pass.
    schema = spark.read.option("basePath", root).parquet(root).schema

    txn = table.log.start_transaction()
    txn.update_metadata(table._make_metadata(schema, pcols))
    now = int(time.time() * 1000)
    # Footer stats are read DISTRIBUTED (one mapInPandas over the file
    # list, same shape as commit publication) — a 100k-file convert
    # must not read 100k footers serially on the driver; the driver
    # collects only the action fields. size is the FILE byte size
    # (an earlier version recorded the row count here, corrupting every
    # size-based decision — OPTIMIZE bin-packing, size summaries — on
    # converted tables).
    import pandas as pd

    from ..shipping import ensure_shipped_by_value
    ensure_shipped_by_value()

    def footer_pass(batches):
        for pdf in batches:
            rows = []
            for f in pdf["path"]:
                stats, _nrows = file_stats_json(f)
                rows.append((f, stats, os.path.getsize(f)))
            yield pd.DataFrame(rows, columns=["path", "stats", "size"])

    from ..localrel import local_rows_df
    par = min(len(files),
              spark.sparkContext.defaultParallelism) or 1
    stat_rows = (local_rows_df(spark, [(f,) for f in files],
                               "path string", parts=par)
                 .mapInPandas(footer_pass,
                              "path string, stats string, size long")
                 .collect())
    adds = []
    for r in stat_rows:
        rel = os.path.relpath(r["path"], root)
        adds.append(AddFile(
            # physical path; the commit encodes it for the log
            path=table.log.table_path + "/" + "/".join(rel.split(os.sep)),
            partitionValues=_partition_values_from_path(rel, pcols),
            size=int(r["size"]), modificationTime=now, dataChange=True,
            stats=r["stats"]))
    adds.sort(key=lambda a: a.path)  # deterministic commit order
    return txn.commit(adds, operation="CONVERT",
                      operation_parameters={"numFiles": str(len(adds)),
                                            "partitionBy": str(pcols)})
