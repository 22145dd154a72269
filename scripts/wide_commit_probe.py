"""Whole-table commit probe: Spark jobs, wall time and driver peak RSS.

Prints one JSON line per op run. Two parts:

- ``small``: builds a 35-commit, 560-file table partitioned by ``p``
  (16 files per commit over 8 partitions, state the driver fold
  replays), then runs each op ``--passes`` times, every run on a fresh
  copy of the table whose Snapshot and file rows are loaded before the
  timing starts: RESTORE three versions back, a whole-table overwrite,
  a shallow ``clone_to``, ``compute_checksum``, ``verify_checksum``,
  ``generate_manifest``, ``vacuum(dry_run=True)`` and
  ``state_summary()``.
- ``wide``: writes a table whose state is one synthetic checkpoint of
  ``--n`` AddFiles (no data files: neither op reads data), classic
  single-part or, with ``--parts N``, N-part, then runs
  ``delete()`` (a whole-table remove commit) and a shallow
  ``clone_to``, each ``--runs`` times, each run in a fresh Python
  process on a fresh copy. ``load_s`` is the Snapshot and its file rows,
  ``rss_loaded_mb`` the driver RSS after that load and
  ``load_peak_rss_mb`` the process's peak RSS (``ru_maxrss``) up to
  then, ``op_s`` the op itself and ``peak_rss_mb`` the process's peak
  RSS at the end.

Usage: python scripts/wide_commit_probe.py small [--passes 2]
       python scripts/wide_commit_probe.py wide --n 200000 [--runs 1]
           [--parts 1]

Tables are written under ``--work`` (a fresh temporary directory by
default), which is removed at the end.
"""
from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SMALL_COMMITS = 35
SMALL_ROWS_PER_COMMIT = 160


def session():
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "6g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def rss_mb() -> float:
    with open("/proc/self/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20


def timed(spark, fn):
    """(wall seconds, Spark jobs) of ``fn()``, the jobs counted through
    a fresh statusTracker job group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "wide commit probe")
    t0 = time.perf_counter()
    try:
        fn()
    finally:
        wall = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, len(sc.statusTracker().getJobIdsForGroup(group))


def emit(**rec) -> None:
    print(json.dumps(rec), flush=True)


# ------------------------------------------------------------------ small

def build_small(spark, path: str) -> None:
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    t = DeltaTable.for_path(spark, path)
    n = SMALL_ROWS_PER_COMMIT
    for c in range(SMALL_COMMITS):
        # two input slices, each holding all eight p values: 16 files
        df = spark.range(c * n, (c + 1) * n, 1, 2).select(
            F.col("id"), (F.col("id") % 8).cast("int").alias("p"))
        t.write(df, mode="append",
                partition_by=["p"] if c == 0 else None)


def run_small(passes: int, work: str) -> None:
    from pyspark.sql import functions as F

    from connectors_spark import DeltaTable
    from connectors_spark.table import TableMaintenance
    spark = session()
    template = os.path.join(work, "small")
    build_small(spark, template)
    head = DeltaTable.for_path(spark, template).snapshot()
    n_files = len(head._files_rows)
    overwrite_df = spark.range(0, SMALL_ROWS_PER_COMMIT, 1, 2).select(
        F.col("id"), (F.col("id") % 8).cast("int").alias("p"))

    ops = {
        "restore": lambda t, d: TableMaintenance(t).restore(
            version=head.version - 3),
        "overwrite": lambda t, d: t.write(overwrite_df, mode="overwrite"),
        "clone_shallow": lambda t, d: t.clone_to(d + "_clone"),
        "compute_checksum": lambda t, d: TableMaintenance(t)
        .compute_checksum(),
        "verify_checksum": lambda t, d: TableMaintenance(t)
        .verify_checksum(),
        "generate_manifest": lambda t, d: TableMaintenance(t)
        .generate_manifest(),
        "vacuum_dry_run": lambda t, d: TableMaintenance(t)
        .vacuum(dry_run=True),
        "state_summary": lambda t, d: t.snapshot().state_summary(),
    }
    for i in range(passes):
        for name, op in ops.items():
            d = os.path.join(work, f"small-{name}-{i}")
            shutil.copytree(template, d)
            t = DeltaTable.for_path(spark, d)
            t.snapshot()._files_rows        # loaded before the timing
            wall, jobs = timed(spark, lambda: op(t, d))
            emit(part="small", op=name, files=n_files,
                 commits=SMALL_COMMITS, jobs=jobs, wall_s=round(wall, 3))
    spark.stop()


# ------------------------------------------------------------------- wide

def build_wide(path: str, n: int, parts: int = 1) -> None:
    """A table whose version 0 is one classic checkpoint of ``parts``
    parts holding Protocol, Metadata and ``n`` AddFiles."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from connectors_spark.log import filenames as fn
    from connectors_spark.log.actions import (SINGLE_ACTION_SCHEMA,
                                              Metadata, Protocol,
                                              to_json_line)
    from connectors_spark.log.logstore import LogStore
    from connectors_spark.log.segment import write_last_checkpoint
    log_path = os.path.join(path, "_delta_log")
    os.makedirs(log_path)
    schema = T.StructType([T.StructField("id", T.LongType())])
    lines = [to_json_line(Protocol(1, 2)),
             to_json_line(Metadata(id=str(uuid.uuid4()),
                                   schemaString=schema.json(),
                                   createdTime=0))]
    store = LogStore()
    store.write(fn.delta_file(log_path, 0), lines, overwrite=False)
    now = int(time.time() * 1000)
    rows = [json.loads(ln) for ln in lines]
    rows += [{"add": {
        "path": f"part-{i:08d}.parquet", "partitionValues": {},
        "size": 1000 + i % 1000, "modificationTime": now,
        "dataChange": True,
        "stats": json.dumps({"numRecords": 10, "minValues": {"id": i * 10},
                             "maxValues": {"id": i * 10 + 9},
                             "nullCount": {"id": 0}},
                            separators=(",", ":"))}} for i in range(n)]
    names = ([fn.checkpoint_file_single(log_path, 0)] if parts == 1
             else fn.checkpoint_file_parts(log_path, 0, parts))
    for i, name in enumerate(names):
        part = rows[len(rows) * i // parts:len(rows) * (i + 1) // parts]
        pq.write_table(pa.Table.from_pylist(
            part, schema=to_arrow_schema(SINGLE_ACTION_SCHEMA)),
            name, compression="snappy")
    write_last_checkpoint(store, log_path, 0, n + 2,
                          parts if parts > 1 else None)


def run_wide_one(op: str, path: str, n: int) -> None:
    from connectors_spark import DeltaTable
    spark = session()
    t = DeltaTable.for_path(spark, path)
    load_s, load_jobs = timed(spark, lambda: t.snapshot()._files_rows)
    loaded, load_peak = rss_mb(), peak_rss_mb()
    parts = len(t.snapshot().segment.checkpoint_files)
    if op == "delete":
        wall, jobs = timed(spark, lambda: t.delete())
    else:
        wall, jobs = timed(spark, lambda: t.clone_to(path + "_clone"))
    emit(part="wide", op=op, files=n, parts=parts, load_s=round(load_s, 2),
         load_jobs=load_jobs, op_s=round(wall, 2), jobs=jobs,
         rss_loaded_mb=round(loaded), load_peak_rss_mb=round(load_peak),
         peak_rss_mb=round(peak_rss_mb()))
    spark.stop()


def run_wide(n: int, runs: int, parts: int, work: str) -> None:
    template = os.path.join(work, f"wide-{n}")
    build_wide(template, n, parts)
    for i in range(runs):
        for op in ("delete", "clone_shallow"):
            d = os.path.join(work, f"wide-{n}-{op}-{i}")
            shutil.copytree(template, d)
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            "_wide_one", "--op", op, "--table", d,
                            "--n", str(n)], check=True)
            shutil.rmtree(d, ignore_errors=True)
            shutil.rmtree(d + "_clone", ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("part", choices=["small", "wide", "_wide_one"])
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--parts", type=int, default=1)
    ap.add_argument("--work", default=None)
    ap.add_argument("--op", default="delete")
    ap.add_argument("--table", default=None)
    opts = ap.parse_args()
    if opts.part == "_wide_one":
        run_wide_one(opts.op, opts.table, opts.n)
        return
    work = opts.work or tempfile.mkdtemp(prefix="wide_commit_probe-")
    try:
        if opts.part == "small":
            run_small(opts.passes, work)
        else:
            run_wide(opts.n, opts.runs, opts.parts, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
