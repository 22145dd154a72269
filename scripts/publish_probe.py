"""Commit-path probe: where publishing staged files and building
driver-local relations cost the least.

Two parts, both in one process with the two sides alternating (the side
that runs first flips every repeat), so both see the same JIT and worker
state:

- ``publish``: N staged Parquet files (N = 1 to 8192, ``PUBLISH_SIZES``;
  each a copy of one small file with an int, a double and a string
  column) published into a table directory on the local file system two
  ways: the writer's driver loop (``writer._publish_one`` per file) and
  the distributed job (``writer.publish_plan(...).collect()``). Both
  read every footer for stats and rename every file.
  ``DRIVER_PUBLISH_MAX_FILES`` is the largest N where the driver loop is
  no slower than the job. On an object store each file's steps are
  remote calls made in series by the loop; this probe does not measure
  that.
- ``relation``: a driver-local relation of R inventory rows
  (``FILES_SCHEMA``; R = 8, 2 k, 50 k, 400 k) built two ways: a Python
  RDD (``createDataFrame`` over ``parallelize``, one slice per 10 000
  rows: the former ``local_rows_df``) and Arrow (``local_rows_df``).
  Timed: the build, then two queries (a grouped count collected, and a
  filtered count).

Prints one JSON line per (part, size, side, repeat), then one summary
line per (part, size, side) with the median.

Usage: python scripts/publish_probe.py [--reps 5] [--part publish|relation|both]
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

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PUBLISH_SIZES = (1, 4, 16, 64, 256, 1024, 2048, 3072, 4096, 8192)
RELATION_SIZES = (8, 2_000, 50_000, 400_000)


def stage(template: str, staging: str, n: int) -> list:
    os.makedirs(staging)
    rels = [f"part-{i:05d}.parquet" for i in range(n)]
    for r in rels:
        shutil.copyfile(template, os.path.join(staging, r))
    return rels


def publish_side(spark, root: str, template: str, n: int, side: str,
                 tag: str) -> float:
    from connectors_spark import writer
    from connectors_spark.log.logstore import default_log_store
    table = os.path.join(root, f"t-{tag}")
    staging = os.path.join(table, "_staging")
    rels = stage(template, staging, n)
    store = default_log_store(table)
    t0 = time.perf_counter()
    if side == "driver":
        rows = [writer._publish_one(store, staging, table, r, None, True)
                for r in rels]
    else:
        rows = writer.publish_plan(spark, staging, table, rels, True,
                                   store=store).collect()
    dt = time.perf_counter() - t0
    assert len(rows) == n and all(r["stats"] for r in rows)
    shutil.rmtree(table)
    return dt


def python_rdd_df(spark, rows, schema):
    parts = max(1, min(len(rows) // 10_000 + 1, len(rows),
                       spark.sparkContext.defaultParallelism))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
                                 schema)


def relation_side(spark, rows, side: str) -> dict:
    from pyspark.sql import functions as F

    from connectors_spark.localrel import local_rows_df
    from connectors_spark.log.snapshot import FILES_SCHEMA
    build = local_rows_df if side == "arrow" else python_rdd_df
    t0 = time.perf_counter()
    df = build(spark, rows, FILES_SCHEMA)
    t1 = time.perf_counter()
    df.groupBy(F.col("partitionValues")["p"]).count().collect()
    t2 = time.perf_counter()
    df.where(F.col("size") > 500).count()
    t3 = time.perf_counter()
    return {"build_s": t1 - t0, "group_s": t2 - t1, "filter_s": t3 - t2,
            "total_s": t3 - t0}


def inventory(n: int):
    from pyspark.sql import Row

    from connectors_spark.log.snapshot import FILES_SCHEMA
    row = Row(*FILES_SCHEMA.names)
    return [row(f"/t/p={i % 100}/f{i}.parquet", {"p": str(i % 100)},
                1000 + i % 7, 0, True,
                f'{{"numRecords":10,"minValues":{{"x":{i}}}}}',
                None, None, None, 0) for i in range(n)]


def emit(rec: dict) -> None:
    print(json.dumps({k: round(v, 4) if isinstance(v, float) else v
                      for k, v in rec.items()}), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--part", choices=("publish", "relation", "both"),
                    default="both")
    opts = ap.parse_args()
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    sides = {"publish": ("driver", "job"), "relation": ("arrow", "python_rdd")}
    root = tempfile.mkdtemp(prefix="publish-probe-")
    try:
        template = os.path.join(root, "template.parquet")
        pq.write_table(pa.table({"id": list(range(1000)),
                                 "val": [i / 3 for i in range(1000)],
                                 "s": [f"s{i}" for i in range(1000)]}),
                       template)
        for part in ("publish", "relation"):
            if opts.part not in (part, "both"):
                continue
            for size in PUBLISH_SIZES if part == "publish" else RELATION_SIZES:
                rows = inventory(size) if part == "relation" else None
                times = {s: [] for s in sides[part]}
                for rep in range(opts.reps):
                    order = sides[part] if rep % 2 == 0 \
                        else sides[part][::-1]
                    for side in order:
                        if part == "publish":
                            rec = {"total_s": publish_side(
                                spark, root, template, size, side,
                                f"{side}-{rep}")}
                        else:
                            rec = relation_side(spark, rows, side)
                        times[side].append(rec["total_s"])
                        emit({"part": part, "size": size, "side": side,
                              "rep": rep, **rec})
                for side, ts in times.items():
                    emit({"part": part, "size": size, "side": side,
                          "median_s": statistics.median(ts)})
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
