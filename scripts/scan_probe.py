"""Scan-planning probe: what building a table read costs as its file
count grows.

For each N in ``SIZES`` (3, 32, 66, 1000, 5000), writes N tiny Parquet
files (one int64 and one string column, two rows each) with pyarrow into
a fresh table directory and commits them to a Delta table in one commit
(protocol, metadata and N AddFiles carrying each file's size and
modification time). Then, in one process, on a loaded Snapshot (its
file inventory already folded, so no log replay is timed):

- ``build``: ``Snapshot.to_df()``, the relation over every active file;
- ``count``: ``Snapshot.to_df().count()``, the build plus the query.

Each is repeated ``--reps`` times (default 5) after one untimed warm-up
and reported as the median. ``jobs`` counts the Spark jobs of one more
build: a file listing runs as a job past Spark's 32-path
parallel-discovery threshold, a read of the log's statuses runs none.
Prints one JSON line per N.

Usage: python scripts/scan_probe.py [--sizes 3,32,66,1000,5000] [--reps 5]
       [--cpus 4]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = (3, 32, 66, 1000, 5000)


def make_table(spark, root: str, n: int):
    """A Delta table of ``n`` two-row Parquet files, committed at once."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from connectors_spark import DeltaTable
    from connectors_spark.log.actions import AddFile, Metadata, Protocol
    path = os.path.join(root, f"t{n}")
    os.makedirs(path)
    adds = []
    for i in range(n):
        name = f"part-{i:05d}.parquet"
        pq.write_table(pa.table({"x": pa.array([2 * i, 2 * i + 1],
                                               pa.int64()),
                                 "s": ["a", "b"]}), os.path.join(path, name))
        st = os.stat(os.path.join(path, name))
        adds.append(AddFile(name, {}, st.st_size, int(st.st_mtime * 1000)))
    schema = T.StructType([T.StructField("x", T.LongType()),
                           T.StructField("s", T.StringType())])
    t = DeltaTable.for_path(spark, path)
    t.log.start_transaction().commit(
        [Protocol(1, 2), Metadata(id=str(uuid.uuid4()),
                                  schemaString=schema.json())] + adds,
        "WRITE")
    return t


def jobs_of(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"scan-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scan probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default=",".join(map(str, SIZES)))
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{args.cpus}]")
             .config("spark.sql.shuffle.partitions", str(args.cpus))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="scan-probe-")
    try:
        for n in map(int, args.sizes.split(",")):
            snap = make_table(spark, root, n).snapshot()
            assert len(snap._files_rows) == n
            assert snap.to_df().count() == 2 * n          # warm-up
            build = [timed(snap.to_df) for _ in range(args.reps)]
            count = [timed(lambda: snap.to_df().count())
                     for _ in range(args.reps)]
            print(json.dumps({
                "files": n, "reps": args.reps,
                "build_s": round(statistics.median(build), 4),
                "count_s": round(statistics.median(count), 4),
                "jobs": jobs_of(spark, snap.to_df)}), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
