"""The benchmark's workloads. Each drives the engine only through its
public API and yields ops for one closed-loop client.

A workload's ``inputs`` runs in a process of its own (``inputs.py``): it
writes the seeded raw Parquet and returns a plan of plain values, with
every expected answer computed by DuckDB. In the driver process, the
workload builds its fixtures from the plan (``build``, timed as set-up
and repeated to take a median), makes its handles (``prepare``), then
yields ``Op``s forever (``ops``) against replica 0. Everything an op
needs is built before the op is yielded, so the runner's timer covers
only the public call and the action that forces it.

Nothing is warmed up: the first op of each type in a run pays the JIT,
code generation and Python-worker start-up a process pays once, as an
application that runs it once per Spark session does. Warming every op
type up would cost more than the timed loop, which the benchmark's time
budget cannot take. Where a cycle repeats an op type, its median is a
warm run.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterator, List

from pyspark.sql import functions as F

from connectors_spark import AddFile, Col, DeltaLog, DeltaTable
from connectors_spark.ops.dedup import dedup_exact, minhash_lsh_pairs
from connectors_spark.ops.graph import connected_components
from connectors_spark.streaming.sink import DeltaStreamSink
from connectors_spark.writer import file_stats_json


@dataclass
class Op:
    type: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]
    # facts the traced run needs that only the workload knows
    extra: Dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""
    # op type -> how many ops of that type one cycle of the mix runs
    mix: Dict[str, int] = {}

    def __init__(self, spark, work_dir: str, plan: Dict[str, Any], tracer):
        self.spark = spark
        self.dir = work_dir
        self.plan = plan
        self.tracer = tracer

    @classmethod
    def inputs(cls, rng, raw_dir: str, oracle) -> Dict[str, Any]:
        """Seeded raw files under ``raw_dir`` and the plan: paths,
        predicates and expected answers, as plain JSON values."""
        raise NotImplementedError

    def build(self, rep: int) -> None:
        """One complete build of the fixtures, into replica ``rep``."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed set-up after the builds: the handles ops use."""

    def ops(self) -> Iterator[Op]:
        """The mix, forever, against the fixtures of replica 0."""
        raise NotImplementedError

    def final_check(self) -> List[str]:
        """Failures found in the end state, checked after the timed loop."""
        return []


# ----------------------------------------------------------------- read

class Read(Workload):
    """Reads that commit nothing: pruned queries of a ``lineitem`` table
    partitioned on ``l_returnflag`` and written in 24 commits (so its log
    has two classic checkpoints and a JSON tail), then one run of the
    curation pipeline over a ``documents`` table. Sized as TPC-H sf0.1:
    600k ``lineitem`` rows."""

    name = "read"
    # Three of each query per pipeline run, so each query type's median
    # is a warm run, and the short ops get more samples for the time one
    # cycle takes.
    mix = {"cold_query": 3, "warm_query": 3, "time_travel": 3,
           "pipeline": 1}
    COMMITS, ROWS, DAYS, SPAN_DAYS, QUERIES = 24, 25_000, 30, 20, 16
    # Time-travel targets, not seeded: the cost of a version depends on
    # the log shape under it, and every run should measure the same
    # shape: a classic checkpoint plus a JSON tail (10 + 3, 20 + 1).
    TRAVEL_VERSIONS = (13, 21)

    @classmethod
    def inputs(cls, rng, raw_dir: str, oracle) -> Dict[str, Any]:
        import datagen
        raw = datagen.lineitem_commits(rng, raw_dir, cls.COMMITS, cls.ROWS,
                                       cls.DAYS)
        horizon = (cls.COMMITS + 1) * cls.DAYS // 2
        queries = []
        for k in range(cls.QUERIES):
            lo = int(rng.integers(0, horizon - cls.SPAN_DAYS))
            flag = str(rng.choice(datagen.FLAGS))
            lo_d = str(datagen.EPOCH + dt.timedelta(days=lo))
            hi_d = str(datagen.EPOCH + dt.timedelta(days=lo + cls.SPAN_DAYS))
            version = cls.TRAVEL_VERSIONS[k % len(cls.TRAVEL_VERSIONS)]
            queries.append({
                "flag": flag, "lo": lo_d, "hi": hi_d, "version": version,
                "rows": oracle.pruned_count(raw, flag, lo_d, hi_d),
                "rows_at_version": oracle.pruned_count(
                    raw[:version + 1], flag, lo_d, hi_d)})
        # Commits after the first add one file per partition, as an
        # external writer does: split here, copied into each replica.
        parts = [cls._split(path, os.path.join(raw_dir, "parts"), i)
                 for i, path in enumerate(raw[1:], start=1)]
        return {"raw": raw, "parts": parts, "queries": queries,
                "curation": Curation.inputs(rng, raw_dir, oracle)}

    def __init__(self, spark, work_dir: str, plan: Dict[str, Any], tracer):
        super().__init__(spark, work_dir, plan, tracer)
        self.curation = Curation(spark, work_dir, plan["curation"], tracer)

    @staticmethod
    def _split(path: str, out_dir: str, i: int) -> List[Dict[str, str]]:
        """Commit ``i``'s raw file as one file per partition, each with
        the Delta stats of its footer."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        import datagen
        data = pq.read_table(path)
        parts = []
        for flag in datagen.FLAGS:
            rel = f"l_returnflag={flag}/part-{i:05d}.parquet"
            src = os.path.join(out_dir, rel)
            os.makedirs(os.path.dirname(src), exist_ok=True)
            pq.write_table(data.filter(pc.equal(data["l_returnflag"], flag))
                           .drop_columns(["l_returnflag"]), src)
            parts.append({"rel": rel, "src": src, "flag": flag,
                          "stats": file_stats_json(src)[0]})
        return parts

    def _path(self, rep: int) -> str:
        return os.path.join(self.dir, f"lineitem-{rep}")

    def _commit_files(self, table: DeltaTable, parts: List[Dict]) -> None:
        """Append pre-split files through a plain transaction commit."""
        adds = []
        for part in parts:
            full = os.path.join(table.path, part["rel"])
            os.makedirs(os.path.dirname(full), exist_ok=True)
            shutil.copyfile(part["src"], full)
            st = os.stat(full)
            adds.append(AddFile(path=part["rel"],
                                partitionValues={"l_returnflag": part["flag"]},
                                size=st.st_size,
                                modificationTime=int(st.st_mtime * 1000),
                                dataChange=True, stats=part["stats"]))
        table.log.start_transaction().commit(adds, "WRITE",
                                             {"mode": "Append"})

    def build(self, rep: int) -> None:
        table = DeltaTable.for_path(self.spark, self._path(rep))
        table.write(self.spark.read.parquet(self.plan["raw"][0]),
                    partition_by=["l_returnflag"])
        # A long-lived writer keeps the file inventory it has read.
        table.snapshot().all_files()
        for parts in self.plan["parts"]:
            self._commit_files(table, parts)
        self.curation.build(rep)

    def prepare(self) -> None:
        self.warm = DeltaTable.for_path(self.spark, self._path(0))

    @staticmethod
    def _pred(flag, lo, hi):
        return ((Col("l_returnflag") == flag) & (Col("l_shipdate") >= lo)
                & (Col("l_shipdate") <= hi))

    def ops(self) -> Iterator[Op]:
        spark, main = self.spark, self._path(0)
        queries = [dict(q, lo=dt.date.fromisoformat(q["lo"]),
                        hi=dt.date.fromisoformat(q["hi"]))
                   for q in self.plan["queries"]]
        for k in range(10 ** 9):
            if k % 3 == 1:
                yield self.curation.op()
            q = queries[k % len(queries)]
            pred = self._pred(q["flag"], q["lo"], q["hi"])
            yield Op("cold_query",
                     lambda: DeltaTable(DeltaLog(spark, main)).scan(pred)
                     .to_df().count(),
                     lambda n, e=q["rows"]: n == e)
            w = queries[(k + 1) % len(queries)]
            wpred = self._pred(w["flag"], w["lo"], w["hi"])
            yield Op("warm_query",
                     lambda: self.warm.scan(wpred).to_df().count(),
                     lambda n, e=w["rows"]: n == e)
            cond = ((F.col("l_returnflag") == q["flag"])
                    & F.col("l_shipdate").between(q["lo"], q["hi"]))
            yield Op("time_travel",
                     lambda: self.warm.to_df(version=q["version"])
                     .where(cond).count(),
                     lambda n, e=q["rows_at_version"]: n == e)


# ---------------------------------------------------------------- write

class Write(Workload):
    """Ingest and DML on one CDF-enabled ``orders`` table, sized as TPC-H
    sf0.1 (150k rows).

    One cycle is ten commits to ``orders``, so the default checkpoint
    interval puts the checkpoint on the same commit of every cycle. In
    order: a DELETE of a seeded 1% key slice (spread over every base
    file), a MERGE that re-inserts exactly those rows and rewrites
    another 1% slice with its raw values (so the base rows return to
    their starting contents), a
    ``table_changes`` read of both versions, then eight micro-batch
    appends through ``DeltaStreamSink``, the last of which writes the
    checkpoint, with a ``changes_df`` tail read after every fourth. The
    DML client uses a DeltaLog of its own, as a second job would, so the
    sink's log stays the one a pure ingest job has."""

    name = "write"
    mix = {"delete": 1, "merge": 1, "cdf_read": 1,
           "append": 7, "checkpoint_append": 1, "tail_read": 2}
    # One cycle fits the time budget, so each run times the first DELETE,
    # MERGE, CDF read and checkpoint of its process (about 1.5 times a
    # warm run's time). Appends share their code paths with the builds.
    BASE_ROWS, BASE_FILES, BATCH_ROWS, BATCHES = 150_000, 4, 2000, 48
    SLICE = 1500  # 1% of the base rows

    # DML key slices drawn up front; the loop repeats them past the last
    CYCLES = 32

    @classmethod
    def inputs(cls, rng, raw_dir: str, oracle) -> Dict[str, Any]:
        import datagen
        raw = datagen.orders_files(rng, raw_dir, cls.BASE_ROWS, cls.BATCHES,
                                   cls.BATCH_ROWS)
        slices = []
        for _ in range(cls.CYCLES):
            keys = rng.permutation(cls.BASE_ROWS)
            dels = [int(k) for k in keys[:cls.SLICE]]
            upds = [int(k) for k in keys[cls.SLICE:2 * cls.SLICE]]
            slices.append({"delete": dels, "update": upds,
                           "delete_rows": oracle.key_rows(raw["base"], dels),
                           "update_rows": oracle.key_rows(raw["base"], upds)})
        return {"raw": raw, "slices": slices,
                "base_key_sum": oracle.count_and_key_sum([raw["base"]])[1],
                "batch_sums": [oracle.count_and_key_sum([b])
                               for b in raw["batches"]]}

    def __init__(self, spark, work_dir: str, plan: Dict[str, Any], tracer):
        super().__init__(spark, work_dir, plan, tracer)
        self.raw = plan["raw"]

    def _path(self, rep: int) -> str:
        return os.path.join(self.dir, f"orders-{rep}")

    def build(self, rep: int) -> None:
        DeltaTable.for_path(self.spark, self._path(rep)).write(
            self.spark.read.parquet(self.raw["base"])
            .repartition(self.BASE_FILES),
            configuration={"delta.enableChangeDataFeed": "true"})

    def prepare(self) -> None:
        # (sink, ingest-side table, DML-side table)
        path = self._path(0)
        self.handles = (DeltaStreamSink(path, app_id="perfbench-ingest"),
                        DeltaTable.for_path(self.spark, path),
                        DeltaTable(DeltaLog(self.spark, path)))
        self.cols = self.spark.read.parquet(self.raw["base"]).columns

    def ops(self) -> Iterator[Op]:
        spark, base = self.spark, self.raw["base"]
        sink, ingest_table, dml_table = self.handles
        batch_sums = self.plan["batch_sums"]
        version, appended, unread, pending = 0, 0, 1, 0
        for cycle in range(10 ** 9):
            sl = self.plan["slices"][cycle % len(self.plan["slices"])]
            dels, upds = sl["delete"], sl["update"]
            n_del, n_upd = sl["delete_rows"], sl["update_rows"]
            yield Op("delete",
                     lambda: dml_table.delete(
                         Col("o_orderkey").isin(*dels)),
                     lambda v, e=version + 1: v == e,
                     {"rows_changed": n_del})
            source = spark.read.parquet(base).where(
                F.col("o_orderkey").isin(dels + upds))
            yield Op("merge",
                     lambda: dml_table.merge(
                         source, "t.o_orderkey = s.o_orderkey",
                         when_matched_update={c: f"s.{c}" for c in self.cols},
                         when_not_matched_insert=True),
                     lambda v, e=version + 2: v == e,
                     {"rows_changed": n_del + n_upd})
            want = {"delete": n_del, "insert": n_del,
                    "update_preimage": n_upd, "update_postimage": n_upd}
            lo, hi = version + 1, version + 2
            yield Op("cdf_read",
                     lambda: {r[0]: r[1] for r in dml_table
                              .table_changes(lo, hi)
                              .groupBy("_change_type").count().collect()},
                     lambda got, e=want: got == e)
            version += 2
            unread = version + 1
            for j in range(8):
                # inputs are reused past the last batch: keys repeat, but
                # only row counts are checked for appended rows
                raw = self.raw["batches"][appended % self.BATCHES]
                df = spark.read.parquet(raw)
                version += 1
                yield Op("checkpoint_append" if version % 10 == 0
                         else "append",
                         lambda df=df, bid=appended: sink.write_batch(
                             df, bid),
                         lambda v, e=version: v == e)
                pending += batch_sums[appended % self.BATCHES][0]
                appended += 1
                if j % 4 == 3:
                    yield Op("tail_read",
                             lambda s=unread: ingest_table.changes_df(
                                 start_version=s).count(),
                             lambda n, e=pending: n == e)
                    unread, pending = version + 1, 0

    def final_check(self) -> List[str]:
        """Base rows (back to their starting contents after every DML
        cycle) plus every committed batch, by count and key sum."""
        _, ingest_table, dml_table = self.handles
        committed = ingest_table.snapshot().txn_version(
            "perfbench-ingest") + 1
        sums = self.plan["batch_sums"]
        want_n = self.BASE_ROWS + sum(
            sums[j % self.BATCHES][0] for j in range(committed))
        want_s = self.plan["base_key_sum"] + sum(
            sums[j % self.BATCHES][1] for j in range(committed))
        got_n, got_s = dml_table.to_df().agg(
            F.count("*"), F.sum("o_orderkey")).collect()[0]
        if (got_n, got_s) == (want_n, want_s):
            return []
        return [f"write: table holds ({got_n} rows, key sum {got_s}), "
                f"expected ({want_n}, {want_s})"]


# ------------------------------------------------------------- curation

class Curation:
    """A training-data curation pipeline over a ``documents`` Delta
    table: exact dedup, MinHash-LSH near-dup pairs and connected
    components. One op of the ``read`` workload's cycle. It commits
    nothing (the ``write`` workload measures the writer), so it returns
    the same answer every time."""

    SINGLETONS, FAMILIES, EXACT_DUPS = 1200, 60, 150

    @classmethod
    def inputs(cls, rng, raw_dir: str, oracle) -> Dict[str, Any]:
        import datagen
        docs = datagen.documents(
            rng, os.path.join(raw_dir, "documents.parquet"),
            cls.SINGLETONS, cls.FAMILIES, cls.EXACT_DUPS)
        return {"raw": docs, "expected": oracle.curate(docs)}

    def __init__(self, spark, work_dir: str, plan: Dict[str, Any], tracer):
        self.spark, self.dir = spark, work_dir
        self.plan, self.tracer = plan, tracer

    def _path(self, rep: int) -> str:
        return os.path.join(self.dir, f"documents-{rep}")

    def build(self, rep: int) -> None:
        DeltaTable.for_path(self.spark, self._path(rep)).write(
            self.spark.read.parquet(self.plan["raw"]))

    def _pipeline(self) -> Dict[str, int]:
        tr = self.tracer
        docs = DeltaTable.for_path(self.spark, self._path(0)).to_df()
        with tr.span("ops.dedup_exact"):
            kept = (docs.join(dedup_exact(docs).select("doc_id"), "doc_id",
                              "left_semi")
                    .localCheckpoint(eager=True))
        with tr.span("ops.minhash_lsh"):
            pairs = minhash_lsh_pairs(kept).select("a_id", "b_id") \
                .localCheckpoint(eager=True)
            n_pairs = pairs.count()
        with tr.span("ops.components"):
            comps = connected_components(pairs).collect()
        tr.count("ops.pairs_out", n_pairs)
        return {"kept": kept.count(), "pairs": n_pairs,
                "clusters": len({r["component"] for r in comps}),
                "members": len(comps)}

    def op(self) -> Op:
        return Op("pipeline", self._pipeline,
                  lambda got: got == self.plan["expected"])


WORKLOADS = {w.name: w for w in (Read, Write)}
