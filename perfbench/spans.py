"""Spans around the engine's public layer calls, plus Spark event-log
attribution, for the traced run.

The benchmark records spans from its own files: it wraps the public
functions and methods of each layer for the lifetime of one traced run
(``Tracer.install``) and restores them afterwards. Spans and counts stay
in memory; the event log is read once after Spark stops. Each op runs in
its own Spark job group, so jobs, tasks and Python-worker timings are
attributed to the op that caused them.
"""

from __future__ import annotations

import functools
import glob
import json
import operator
import os
import sys
import time
import types
from collections import defaultdict
from contextlib import contextmanager
from typing import Any, Callable, Dict, List, Optional, Tuple

from stats import clip, driver_only_time, self_time, union_length

# span name -> (metric for its time, "incl" or "self", metric for its calls)
SPAN_METRICS = {
    "log.update": ("log.update_s", "incl", "log.update_calls"),
    "log.inventory": ("log.inventory_s", "incl", None),
    "log.store_read": ("log.store_read_s", "incl", "log.store_reads"),
    "log.store_write": ("log.store_write_s", "incl", "log.store_writes"),
    "log.store_list": ("log.store_list_s", "incl", "log.store_lists"),
    "log.checkpoint": ("log.checkpoint_s", "incl", "log.checkpoints"),
    "scan.plan": ("scan.plan_s", "self", None),
    "txn.commit": ("txn.commit_self_s", "self", None),
    "txn.post_commit": ("txn.post_commit_s", "incl", None),
    "writer.stage": ("writer.stage_s", "incl", None),
    "table.dml": ("table.dml_self_s", "self", None),
    "streaming.sink": ("streaming.sink_self_s", "self", None),
    "streaming.changes": ("streaming.changes_s", "incl", None),
    "ops.dedup_exact": ("ops.dedup_exact_s", "incl", None),
    "ops.minhash_lsh": ("ops.minhash_lsh_s", "incl", None),
    "ops.components": ("ops.components_s", "incl", None),
}

COUNT_METRICS = (
    "log.inventory_spark_jobs", "scan.files_total", "scan.files_selected",
    "txn.conflict_retries", "writer.files_written", "writer.bytes_written",
    "table.files_added", "table.files_removed", "ops.pairs_out")

SPARK_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.input_bytes",
    "spark.shuffle_write_bytes", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "pyworker.start_s",
    "pyworker.run_s", "spark.driver_only_s")

DERIVED_METRICS = ("scan.skip_ratio", "table.rewrite_ratio", "unattributed_s")

LAYER_METRICS = tuple(
    [m for m, _, _ in SPAN_METRICS.values()]
    + [c for _, _, c in SPAN_METRICS.values() if c]
    + list(COUNT_METRICS) + list(SPARK_METRICS) + list(DERIVED_METRICS))

# Python-worker SQL metrics of mapInPandas / Python UDF stages (ms).
# Start-up is the worker's launch plus its initialization; with reused
# workers the launch reads 0.
_PY_ACCUMS = {"time to start Python workers": "pyworker.start_s",
              "time to initialize Python workers": "pyworker.start_s",
              "time to run Python workers": "pyworker.run_s"}


class Tracer:
    """Span recorder. Disabled, every method is a cheap no-op, so the
    workloads call it unconditionally."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self._deferred: List[Callable[[], None]] = []
        self._accounting = False
        self.spans: List[Dict[str, Any]] = []
        self.ops: List[Dict[str, Any]] = []
        self.counts: Dict[str, Dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._stack: List[int] = []
        self._op: Optional[str] = None
        self._undo: List[Callable[[], None]] = []

    # ------------------------------------------------------------ spans

    @contextmanager
    def op(self, op_id: str, op_type: str):
        """The root span of one benchmark op, run in its own job group.
        The accounting its callbacks deferred (counting pruned files)
        waits for ``settle``."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        self.sc.setJobGroup(op_id, op_type)
        start = time.time()
        try:
            yield
        finally:
            self.ops.append({"id": op_id, "type": op_type,
                             "start": start, "end": time.time()})
            self._op = None
            self._stack.clear()

    def settle(self) -> None:
        """Run the accounting the last op deferred, in a job group of its
        own. The runner calls this after it has stopped the op's timer,
        so neither the op's latency nor its job counts include it."""
        if not self._deferred:
            return
        self.sc.setJobGroup("perfbench-accounting", "trace accounting")
        self._op, self._accounting = self.ops[-1]["id"], True
        try:
            while self._deferred:
                self._deferred.pop()()
        finally:
            self._op, self._accounting = None, False

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None or self._accounting:
            yield
            return
        sid = len(self.spans)
        rec = {"name": name, "op": self._op, "start": time.time(),
               "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def defer(self, fn: Callable[[], None]) -> None:
        self._deferred.append(fn)

    def count(self, key: str, n: float = 1) -> None:
        if self.enabled and self._op is not None:
            self.counts[self._op][key] += n

    # ---------------------------------------------------------- wrapping

    def wrap_function(self, module, attr: str, name: str,
                      on_result=None) -> None:
        """Wrap a module-level function, including every binding of it
        that other engine modules imported by name."""
        fn = getattr(module, attr)
        traced = _Traced(fn, self, name, on_result)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("connectors_spark")
                    and getattr(mod, attr, None) is fn):
                setattr(mod, attr, traced)
                self._undo.append(functools.partial(setattr, mod, attr, fn))

    def wrap_method(self, cls, attr: str, name: str, on_result=None) -> None:
        fn = cls.__dict__[attr]
        setattr(cls, attr, _Traced(fn, self, name, on_result))
        self._undo.append(functools.partial(setattr, cls, attr, fn))

    def wrap_cached_property(self, cls, attr: str, name: str) -> None:
        prop = cls.__dict__[attr]
        traced = functools.cached_property(
            _Traced(prop.func, self, name, None))
        traced.__set_name__(cls, attr)
        setattr(cls, attr, traced)
        self._undo.append(functools.partial(setattr, cls, attr, prop))

    def install(self) -> None:
        """Wrap the engine's public layer calls."""
        if not self.enabled:
            return
        from connectors_spark import table as table_mod
        from connectors_spark import scan as scan_mod
        from connectors_spark import txn as txn_mod
        from connectors_spark import writer as writer_mod
        from connectors_spark.log import checkpoints, logstore, snapshot
        from connectors_spark.streaming import sink as sink_mod

        store = logstore.LogStore
        self.wrap_method(store, "read", "log.store_read")
        self.wrap_method(store, "write", "log.store_write")
        self.wrap_method(store, "list_from", "log.store_list")
        self.wrap_method(store, "list_dir", "log.store_list")
        self.wrap_method(table_mod.DeltaLog, "update", "log.update")
        # The first file-list materialization: the driver-side rows, and
        # the local relation over them that scans and DML filter.
        for prop in ("_files_rows", "files_local_df"):
            self.wrap_cached_property(snapshot.Snapshot, prop,
                                      "log.inventory")
        self.wrap_function(checkpoints, "write_checkpoint", "log.checkpoint")
        self.wrap_method(scan_mod.DeltaScan, "to_df", "scan.plan",
                         on_result=_count_scan_files)
        self.wrap_method(txn_mod.OptimisticTransaction, "commit",
                         "txn.commit", on_result=_count_commit)
        self.wrap_method(txn_mod.OptimisticTransaction,
                         "_check_for_conflicts", "txn.conflict_check",
                         on_result=_count_retry)
        self.wrap_method(table_mod.DeltaLog, "post_commit",
                         "txn.post_commit")
        for fn_name in ("stage_and_collect", "stage_cdc_and_collect"):
            self.wrap_function(writer_mod, fn_name, "writer.stage",
                               on_result=_count_staged)
        for dml in ("delete", "update", "merge"):
            self.wrap_method(table_mod.DeltaTable, dml, "table.dml")
        self.wrap_method(sink_mod.DeltaStreamSink, "write_batch",
                         "streaming.sink")
        for reader in ("changes_df", "table_changes"):
            self.wrap_method(table_mod.DeltaTable, reader,
                             "streaming.changes")

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()


class _Traced:
    """A traced stand-in for an engine function or method. The engine
    ships its own code to Python workers by value; pickled, this object
    turns back into the original function, so no tracer state (nor the
    SparkContext it holds) leaves the driver."""

    def __init__(self, fn, tracer: Tracer, name: str, on_result):
        functools.update_wrapper(self, fn)
        self.fn, self.tracer, self.name = fn, tracer, name
        self.on_result = on_result

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name):
            result = self.fn(*args, **kwargs)
        if self.on_result is not None and self.tracer._op is not None:
            self.on_result(self.tracer, args, kwargs, result)
        return result

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ([self.fn],)


# ------------------------------------------------------- count callbacks

def _count_scan_files(tracer, args, kwargs, result) -> None:
    scan = args[0]
    tracer.count("scan.files_total", len(scan.snapshot._files_rows))
    # Counting the pruned file list is a Spark job of its own: defer it
    # past the op's window so the op's job counts stay the engine's.
    tracer.defer(lambda: tracer.count("scan.files_selected",
                                      scan.files().count()))


def _count_commit(tracer, args, kwargs, result) -> None:
    from connectors_spark.log.actions import AddFile, RemoveFile
    txn, actions = args[0], args[1] if len(args) > 1 else kwargs["actions"]
    adds = [a for a in actions if isinstance(a, AddFile) and a.dataChange]
    removes = [a for a in actions
               if isinstance(a, RemoveFile) and a.dataChange]
    tracer.count("table.files_added", len(adds))
    tracer.count("table.files_removed", len(removes))
    if removes and txn.snapshot is not None:
        by_path = {r["path"]: r["stats"] for r in txn.snapshot._files_rows}
        from connectors_spark.log.snapshot import canonical_path
        rows = 0
        for rm in removes:
            st = by_path.get(canonical_path(rm.path, txn.snapshot.table_path))
            if st:
                rows += json.loads(st).get("numRecords", 0)
        tracer.count("table.rows_in_removed_files", rows)


def _count_retry(tracer, args, kwargs, result) -> None:
    tracer.count("txn.conflict_retries")


def _count_staged(tracer, args, kwargs, result) -> None:
    adds = result[0] if isinstance(result, tuple) else result
    tracer.count("writer.files_written", len(adds))
    tracer.count("writer.bytes_written", sum(a.size or 0 for a in adds))


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> Dict[str, Dict[str, Any]]:
    """Per job group: job intervals (epoch s) and summed task metrics."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        p = os.path.join(log_dir, entry)
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            files += sorted(parts, key=lambda f: int(
                os.path.basename(f).split("_")[1]))
        else:
            files.append(p)
    stage_group: Dict[int, str] = {}
    job_group: Dict[int, str] = {}
    groups: Dict[str, Dict[str, Any]] = defaultdict(
        lambda: {"jobs": {}, "m": defaultdict(float)})
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    job_group[e["Job ID"]] = g
                    groups[g]["jobs"][e["Job ID"]] = [
                        e["Submission Time"] / 1e3, None]
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                elif ev == "SparkListenerJobEnd":
                    g = job_group.get(e["Job ID"])
                    if g is not None:
                        groups[g]["jobs"][e["Job ID"]][1] = \
                            e["Completion Time"] / 1e3
                elif ev == "SparkListenerStageCompleted":
                    g = stage_group.get(e["Stage Info"]["Stage ID"])
                    if g is not None:
                        groups[g]["m"]["spark.stages"] += 1
                elif ev == "SparkListenerTaskEnd":
                    g = stage_group.get(e["Stage ID"])
                    if g is None:
                        continue
                    m = groups[g]["m"]
                    tm = e.get("Task Metrics") or {}
                    m["spark.tasks"] += 1
                    m["spark.executor_run_s"] += \
                        tm.get("Executor Run Time", 0) / 1e3
                    m["spark.executor_cpu_s"] += \
                        tm.get("Executor CPU Time", 0) / 1e9
                    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["spark.input_bytes"] += \
                        (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    m["spark.shuffle_write_bytes"] += \
                        (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    for acc in e["Task Info"].get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            m[key] += float(acc.get("Update") or 0) / 1e3
    return groups


# ------------------------------------------------------ per-op metrics

def op_layer_metrics(tracer: Tracer, events: Dict[str, Dict[str, Any]],
                     extra: Dict[str, Dict[str, float]]
                     ) -> Dict[str, Dict[str, float]]:
    """Layer metrics of every traced op, keyed by op id. ``extra`` holds
    per-op facts the workload knows (rows changed by a DML op)."""
    spans_by_op: Dict[str, List[Dict[str, Any]]] = defaultdict(list)
    for s in tracer.spans:
        spans_by_op[s["op"]].append(s)
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    children: Dict[Optional[int], List[Tuple[float, float]]] = \
        defaultdict(list)
    for s in tracer.spans:
        children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for op in tracer.ops:
        oid, window = op["id"], (op["start"], op["end"])
        spans = spans_by_op.get(oid, [])
        m: Dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
        by_name: Dict[str, List[Dict[str, Any]]] = defaultdict(list)
        for s in spans:
            by_name[s["name"]].append(s)
        for name, (metric, kind, calls) in SPAN_METRICS.items():
            group = by_name.get(name, [])
            if kind == "incl":
                m[metric] = union_length(
                    (s["start"], s["end"]) for s in group)
            else:
                m[metric] = sum(
                    self_time((s["start"], s["end"]),
                              children.get(index[id(s)], []))
                    for s in group)
            if calls:
                m[calls] = float(len(group))
        for k, v in tracer.counts.get(oid, {}).items():
            if k in m:
                m[k] = v
        ev = events.get(oid, {"jobs": {}, "m": {}})
        jobs = [(s, e if e is not None else op["end"])
                for s, e in ev["jobs"].values()]
        for k, v in ev["m"].items():
            m[k] = v
        m["spark.jobs"] = float(len(jobs))
        m["spark.driver_only_s"] = driver_only_time(window, jobs)
        inv = [(s["start"], s["end"]) for s in by_name.get("log.inventory",
                                                           [])]
        m["log.inventory_spark_jobs"] = float(sum(
            1 for s, _ in jobs if any(a <= s <= b for a, b in inv)))
        if m["scan.files_total"]:
            m["scan.skip_ratio"] = 1.0 - (m["scan.files_selected"]
                                          / m["scan.files_total"])
        removed_rows = tracer.counts.get(oid, {}).get(
            "table.rows_in_removed_files", 0.0)
        changed = extra.get(oid, {}).get("rows_changed", 0.0)
        if changed:
            m["table.rewrite_ratio"] = removed_rows / changed
        covered = [(s["start"], s["end"]) for s in spans] + jobs
        wall = window[1] - window[0]
        m["unattributed_s"] = wall - union_length(
            clip(covered, *window))
        m["wall_s"] = wall
        out[oid] = m
    return out
