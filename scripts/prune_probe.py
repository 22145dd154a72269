"""File-pruning planning probe over a synthetic in-memory inventory.

Builds ``n`` synthetic inventory rows (``FILES_SCHEMA``; an int
partition column ``p`` with 100 values, stats for a long ``x`` and a
string ``s``) and times per-scan planning, cold and warm, two ways on
the same rows:

- ``driver``: ``DeltaScan(snapshot, pred).rows``, the engine's pruner;
- ``column``: a Spark relation over the rows (``local_rows_df`` plus
  ``localCheckpoint``, built once per Snapshot and timed in ``cold``),
  filtered with Column expressions (partition values cast from the map,
  stats through ``get_json_object``) and collected back. This is the
  plan the driver pruner replaced.

A second, bloom-tagged inventory of ``--bloom-files`` rows (default
20 000: each row carries a 4 KiB tag, and the Column side ships every
tag to the JVM) has stats whose [min, max] spans every key, so min/max
keeps every file and only the bloom probe can skip one. Its tags are
drawn from a pool of 64 random filters (m 16384 bits, k 7, about 35%
of bits set, as 1000 distinct values set them). It is probed with IN
lists of 100 keys (bloom probed) and 300 keys (past
``_IN_BLOOM_MAX_VALUES``, so both sides test the range only).

A last case, ``metadata_aggregates``, answers ``COUNT(*)`` and the
min/max of ``x`` from the first inventory's stats through
``DeltaTable.metadata_aggregates``, two ways: over the Snapshot's
``files_local_df`` as the engine builds it (``arrow``), and over the same
relation after an eager ``localCheckpoint`` (``arrow_checkpoint``).

Cold is the first scan of a fresh Snapshot (its per-Snapshot state
built inside the timing); warm is the median of the next ``--warm``
scans of the same Snapshot. Prints one JSON line per (predicate,
method).

Usage: python scripts/prune_probe.py [n_files] [--warm 3]
       [--bloom-files 20000] [--only PREDICATE]
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def inventory(n: int):
    from connectors_spark.log.snapshot import FILES_SCHEMA
    from pyspark.sql import Row
    row = Row(*FILES_SCHEMA.names)
    out = []
    for i in range(n):
        lo = i * 10
        stats = json.dumps({
            "numRecords": 10,
            "minValues": {"x": lo, "s": f"k{lo:09d}"},
            "maxValues": {"x": lo + 9, "s": f"k{lo + 9:09d}"},
            "nullCount": {"x": 0, "s": 0}}, separators=(",", ":"))
        out.append(row(f"/t/p={i % 100}/f{i}.parquet", {"p": str(i % 100)},
                       1000, 0, True, stats, None, None, None, 0))
    return out


def bloom_inventory(n: int):
    import numpy as np

    from connectors_spark.log.snapshot import FILES_SCHEMA
    from pyspark.sql import Row
    row = Row(*FILES_SCHEMA.names)
    rng = np.random.default_rng(7)
    m, k = 16384, 7
    lut = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)
    pool = []
    for _ in range(64):
        bits = rng.random((m // 4, 4)) < 0.35
        nib = (bits * np.array([1, 2, 4, 8])).sum(axis=1)
        pool.append(f"{m}:{k}:" + lut[nib].tobytes().decode("ascii"))
    stats = json.dumps({"numRecords": 1000, "minValues": {"x": 0},
                        "maxValues": {"x": 10**9}, "nullCount": {"x": 0}},
                       separators=(",", ":"))
    return [row(f"/t/p={i % 100}/b{i}.parquet", {"p": str(i % 100)},
                1000, 0, True, stats, {"bloom.x": pool[i % 64]}, None,
                None, 0) for i in range(n)]


def bloom_column(values):
    """The replaced Column bloom probe of an IN list: one ``exists`` over
    the values' hash pairs wrapping a ``forall`` over the k positions of
    each file's own ``m:k:hex`` tag; a file without a tag is kept."""
    from pyspark.sql import functions as F

    from connectors_spark.bloom import _hashes64
    hs = [_hashes64(str(v)) for v in values]
    tag = F.col("tags")["bloom.x"]
    parts = F.split(tag, ":")
    m, k = parts.getItem(0).cast("long"), parts.getItem(1).cast("int")
    hx = parts.getItem(2)
    h1s = F.lit([h[0] for h in hs]).cast("array<long>")
    h2s = F.lit([h[1] for h in hs]).cast("array<long>")
    bit_of = F.array(F.lit(1), F.lit(2), F.lit(4), F.lit(8))

    def hit(j):
        h1 = F.element_at(h1s, j.cast("int")) % m
        h2 = F.element_at(h2s, j.cast("int")) % m

        def probe(i):
            p = (h1 + i.cast("long") * h2) % m
            ch = hx.substr((p / F.lit(4)).cast("long") + F.lit(1), F.lit(1))
            mask = F.element_at(bit_of, (p % F.lit(4)).cast("int")
                                + F.lit(1)).cast("long")
            return F.conv(ch, 16, 10).cast("long").bitwiseAND(mask) != 0
        return F.forall(F.sequence(F.lit(0), k - F.lit(1)), probe)

    keep = F.exists(F.sequence(F.lit(1), F.lit(len(hs))), hit)
    return F.when(tag.isNull(), F.lit(True)) \
        .otherwise(F.coalesce(keep, F.lit(True)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("n_files", nargs="?", type=int, default=1_000_000)
    ap.add_argument("--warm", type=int, default=3)
    ap.add_argument("--bloom-files", type=int, default=20_000)
    ap.add_argument("--only", help="run only the named predicate")
    opts = ap.parse_args()
    n, warm, n_bloom = opts.n_files, opts.warm, opts.bloom_files
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from connectors_spark.expressions import Col, Lit
    from connectors_spark.localrel import local_rows_df
    from connectors_spark.log.actions import Metadata
    from connectors_spark.log.snapshot import FILES_SCHEMA, Snapshot
    from connectors_spark.scan import DeltaScan
    from connectors_spark.table import DeltaTable

    class ProbeSnapshot(Snapshot):
        """A Snapshot over the synthetic rows instead of a log."""

        def __init__(self, rows):
            self.spark = spark
            self._files_rows = rows

        metadata = property(lambda self: meta)

    spark = (SparkSession.builder
             .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "6g").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    schema = T.StructType([T.StructField("p", T.IntegerType()),
                           T.StructField("x", T.LongType()),
                           T.StructField("s", T.StringType())])
    meta = Metadata(schemaString=schema.json(), partitionColumns=["p"])
    rows = inventory(n)
    hi = n * 10

    def envelope(values):
        return F.coalesce(
            (F.get_json_object("stats", "$.minValues.x").cast("long")
             <= max(values))
            & (F.get_json_object("stats", "$.maxValues.x").cast("long")
               >= min(values)), F.lit(True))
    preds = {
        "partition": (Col("p") == Lit(7),
                      F.col("partitionValues")["p"].cast("int") == 7),
        "stats": (Col("x") >= Lit(hi - 5000),
                  F.coalesce(F.get_json_object("stats", "$.maxValues.x")
                             .cast("long") >= hi - 5000, F.lit(True))),
        "in_list": (Col("x").isin(*range(5, hi, hi // 100)),
                    envelope(range(5, hi, hi // 100))),
    }
    keys100 = list(range(5, 10**9, 10**7))
    keys300 = list(range(5, 10**9, 10**9 // 300 + 1))
    bloom_preds = {
        "bloom_in100": (Col("x").isin(*keys100),
                        envelope(keys100) & bloom_column(keys100)),
        "bloom_in300": (Col("x").isin(*keys300), envelope(keys300)),
    }

    def driver(pred, rows):
        snap = {}

        def run():
            if "s" not in snap:
                snap["s"] = ProbeSnapshot(rows)
            return len(DeltaScan(snap["s"], pred).rows)
        return run

    def column(cond, rows):
        rel = {}

        def run():
            if "df" not in rel:
                rel["df"] = local_rows_df(spark, rows, FILES_SCHEMA) \
                    .localCheckpoint(eager=True)
            return len(rel["df"].where(cond).select("path").collect())
        return run

    def aggregates(rows, checkpoint):
        snap = {}

        class ProbeTable:
            def _resolve(self, version, timestamp):
                return snap["s"]

        def run():
            if "s" not in snap:
                snap["s"] = ProbeSnapshot(rows)
                if checkpoint:
                    snap["s"].files_local_df = \
                        snap["s"].files_local_df.localCheckpoint(eager=True)
            out = DeltaTable.metadata_aggregates(ProbeTable(), ["x"])
            return out.collect()[0]["n_rows"]
        return run

    cases = [(name, (("driver", driver(pred, rows)),
                     ("column", column(cond, rows))), rows)
             for name, (pred, cond) in preds.items()]
    if n_bloom and opts.only in (None, *bloom_preds):
        brows = bloom_inventory(n_bloom)
        cases += [(name, (("driver", driver(pred, brows)),
                          ("column", column(cond, brows))), brows)
                  for name, (pred, cond) in bloom_preds.items()]
    if opts.only in (None, "metadata_aggregates"):
        # both ways once on a small inventory first, so neither cold
        # time carries the JVM's first compile of this plan
        for checkpoint in (False, True):
            aggregates(inventory(1000), checkpoint)()
    cases.append(("metadata_aggregates",
                  (("arrow", aggregates(rows, False)),
                   ("arrow_checkpoint", aggregates(rows, True))), rows))
    for name, methods, rows in cases:
        if opts.only not in (None, name):
            continue
        for method, fn in methods:
            t0 = time.perf_counter()
            kept = fn()
            cold = time.perf_counter() - t0
            times = []
            for _ in range(warm):
                t0 = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t0)
            print(json.dumps({"files": len(rows), "predicate": name,
                              "method": method, "kept": kept,
                              "cold_s": round(cold, 3),
                              "warm_s": round(statistics.median(times), 3)}),
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
