#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload read --seed 1 --seconds 5 --trace 0

One process, one closed-loop client thread, Spark at ``local[nproc]``.
A child process (``inputs.py``) writes the seeded raw inputs and their
expected answers into a temporary directory inside the checkout (removed
at exit) while Spark starts. Set-up then builds the workload's fixtures
from them three times and reports the median build as ``setup_s``. The
timed loop then runs the workload's ops back to back for ``--seconds``,
rounded up to whole cycles of the workload's mix, and checks each answer
against DuckDB. Every time the end-to-end metrics use is wall clock net
of hypervisor steal (``stats.net_of_steal``); wall-clock medians are
printed beside them.

The last line of standard output is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
``--out FILE`` also writes the full result (per-op-type samples, layer
tables, environment) for ``compare.py`` and ``layers.py``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import connectors_spark  # noqa: E402  (fail fast outside a checkout)

import stats  # noqa: E402
import spans as tracing  # noqa: E402

SETUP_REPS = 3
END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s",
                    "op_p50_geomean_s": "s", "driver_py_rss_peak_mb": "MB"}


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot (0 outside a VM): the contention a load average misses."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 \
        else 0.0


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    """The driver JVM: the gateway process, or its java descendant when
    the launcher script has not exec'd into java."""
    root = spark.sparkContext._gateway.proc.pid
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                children[int(fields[1])].append(int(entry))
            except OSError:
                pass
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
        todo += children.get(pid, [])
    return root


def start_inputs(args, work: str) -> subprocess.Popen:
    """Generate the workload's inputs and expected answers in a child
    process, so none of the generator's or DuckDB's memory lands in the
    driver process whose memory the benchmark reports."""
    return subprocess.Popen([sys.executable, os.path.join(HERE, "inputs.py"),
                             "--workload", args.workload,
                             "--seed", str(args.seed), "--dir", work])


def start_spark(cores: int, work: str, event_dir):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", event_dir))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    """One run in a fresh work directory, removed afterwards whether the
    run succeeds or not."""
    scratch = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=scratch)
    try:
        return run_in(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)  # only when no other run is using it
        except OSError:
            pass


def run_in(args, work: str) -> dict:
    import pyarrow
    import pyspark

    from workloads import WORKLOADS

    cores = cpu_count()
    env = {"seed": args.seed, "nproc": cores, "workload": args.workload,
           "seconds": args.seconds, "trace": args.trace,
           "loadavg_start": os.getloadavg(),
           "python": platform.python_version(), "spark": pyspark.__version__,
           "pyarrow": pyarrow.__version__}
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    event_dir = os.path.join(work, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    spark = inputs = None
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        inputs = start_inputs(args, work)
        spark = start_spark(cores, work, event_dir)
        phase("spark_start")
        if inputs.wait() != 0:
            raise RuntimeError("generating the inputs failed")
        with open(os.path.join(work, "plan.json")) as f:
            plan = json.load(f)
        pids = (os.getpid(), jvm_pid(spark))
        tracer = tracing.Tracer(bool(args.trace), spark.sparkContext)
        wl = WORKLOADS[args.workload](spark, work, plan, tracer)
        phase("inputs")
        builds, build_steal = [], []
        for rep in range(SETUP_REPS):
            stolen, t0 = steal_s(), time.perf_counter()
            wl.build(rep)
            builds.append(time.perf_counter() - t0)
            build_steal.append(steal_s() - stolen)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        phase("setup")

        tracer.install()
        samples = defaultdict(list)
        op_steal = defaultdict(list)  # CPU s the hypervisor took, per op
        failures, extra, op_types = [], {}, {}
        # Driver memory, sampled at op boundaries. The Python side holds
        # what the engine keeps on the driver (inventories, collected
        # rows) and nothing of the benchmark's inputs or oracle; the
        # JVM's footprint follows its collector's whims, so it is
        # reported but is not an end-to-end metric.
        rss_peak = [rss_mb(p) for p in pids]
        # The loop stops on a cycle boundary, so every run takes the same
        # number of samples of each op type per cycle.
        cycle = sum(wl.mix.values())
        steal_start = steal_s()
        t_start = time.perf_counter()
        for i, op in enumerate(wl.ops()):
            if (i and i % cycle == 0
                    and time.perf_counter() - t_start >= args.seconds):
                break
            oid = f"op-{i}"
            stolen, t0 = steal_s(), time.perf_counter()
            try:
                with tracer.op(oid, op.type):
                    result = op.run()
                elapsed = time.perf_counter() - t0
                tracer.settle()
                if not op.check(result):
                    failures.append(f"{oid} {op.type}: wrong answer {result!r}")
            except Exception:  # noqa: BLE001 — an op failure is a result
                elapsed = time.perf_counter() - t0
                failures.append(f"{oid} {op.type}: {traceback.format_exc()}")
            samples[op.type].append(elapsed)
            op_steal[op.type].append(steal_s() - stolen)
            op_types[oid] = op.type
            extra[oid] = op.extra
            rss_peak = [max(r, rss_mb(p)) for r, p in zip(rss_peak, pids)]
        tracer.uninstall()
        env["loop_cpu_steal_s"] = steal_s() - steal_start
        phase("loop")
        if args.trace:
            spark.sparkContext.setJobGroup("perfbench-check", "final check")
        end_failures = wl.final_check()
    finally:
        if inputs is not None and inputs.poll() is None:
            inputs.kill()
            inputs.wait()
        if spark is not None:
            stop_spark(spark)
        env["loadavg_end"] = os.getloadavg()
        phase("check_and_stop")

    layers = None
    if args.trace:
        events = tracing.read_event_log(event_dir)
        per_op = tracing.op_layer_metrics(tracer, events, extra)
        layers = {}
        for t in wl.mix:
            rows = [m for oid, m in per_op.items() if op_types[oid] == t]
            layers[t] = {k: statistics.fmean(r[k] for r in rows)
                         for k in rows[0]} if rows else {}
        layers["all"] = {k: statistics.fmean(m[k] for m in per_op.values())
                         for k in next(iter(per_op.values()))}

    def net(walls, stolen):
        return [stats.net_of_steal(w, s, cores) for w, s in zip(walls, stolen)]

    n_ops = sum(len(v) for v in samples.values())
    per_type = {t: dict(stats.summarize(net(samples[t], op_steal[t])),
                        wall_p50=statistics.median(samples[t]))
                for t in wl.mix}
    # Throughput of the workload's fixed mix from per-type medians: the
    # loop's cut-off point inside a cycle does not move it.
    cycle_s = sum(n * per_type[t]["p50"] for t, n in wl.mix.items())
    e2e = {"setup_s": statistics.median(net(builds, build_steal)),
           "ops_per_s": sum(wl.mix.values()) / cycle_s,
           "op_p50_geomean_s": stats.geomean(s["p50"]
                                             for s in per_type.values()),
           "driver_py_rss_peak_mb": rss_peak[0]}
    return {"env": env, "phases_s": phases, "builds_s": builds,
            "builds_steal_s": build_steal, "prepare_s": prepare_s,
            "samples": dict(samples), "steal_s": dict(op_steal),
            "per_type": per_type,
            "end_to_end": e2e, "attempted": n_ops,
            "measured_ops_per_s": n_ops / sum(map(sum, samples.values())),
            "jvm_rss_peak_mb": rss_peak[1],
            "failed": len(failures) + len(end_failures),
            "failures": failures + end_failures, "layers": layers}


def report(res: dict) -> None:
    env = res["env"]
    print(f"# perfbench {env['workload']} seed={env['seed']} "
          f"nproc={env['nproc']} seconds={env['seconds']} "
          f"trace={env['trace']} python={env['python']} "
          f"spark={env['spark']} pyarrow={env['pyarrow']} "
          f"loadavg={env['loadavg_start'][0]:.2f}->"
          f"{env['loadavg_end'][0]:.2f} "
          f"loop_cpu_steal={env['loop_cpu_steal_s']:.2f}s")
    print(f"# setup builds, wall (s): "
          + " ".join(f"{b:.3f}" for b in res["builds_s"])
          + "  steal (s): "
          + " ".join(f"{b:.3f}" for b in res["builds_steal_s"])
          + f"  prepare {res['prepare_s']:.3f} s")
    print("# phases (s): " + " ".join(f"{k} {v:.2f}"
                                      for k, v in res["phases_s"].items()))
    for t, s in res["per_type"].items():
        tail = (f"  p{s['tail_p']:g}={s['tail']:.4f}" if "tail" in s else "")
        print(f"{t}_p50_s {s['p50']:.4f} s  n={s['n']}{tail}  "
              f"(wall p50 {s['wall_p50']:.4f} s)")
    for k, v in res["end_to_end"].items():
        print(f"{k} {v:.4f} {END_TO_END_UNITS[k]}")
    print(f"# measured_ops_per_s {res['measured_ops_per_s']:.4f} 1/s "
          f"(ops run / time in ops, this run's cut of the mix)")
    print(f"# jvm_rss_peak_mb {res['jvm_rss_peak_mb']:.1f} MB")
    print(f"error_rate {res['failed'] / res['attempted']:.4f} "
          f"({res['failed']}/{res['attempted']})")
    for f in res["failures"]:
        print(f"# FAILED {f}", file=sys.stderr)
    if res["layers"]:
        print(layer_table(res["layers"]))


def layer_table(layers: dict, overhead: dict = None) -> str:
    """Per-layer table: one row per metric, one column per op type
    (values are means per op)."""
    cols = list(layers)
    rows = [["metric"] + cols]
    names = list(tracing.LAYER_METRICS) + ["wall_s"]
    for name in names:
        rows.append([name] + [f"{layers[c].get(name, 0.0):.4g}"
                              for c in cols])
    if overhead:
        rows.append(["tracing_overhead_s"]
                    + [f"{overhead[c]:.4g}" if c in overhead else "-"
                       for c in cols])
    widths = [max(len(r[i]) for r in rows) for i in range(len(cols) + 1)]
    return "\n".join("  ".join(v.ljust(w) for v, w in zip(r, widths))
                     for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("read", "write"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full result here (JSON)")
    args = ap.parse_args()
    res = run(args)
    report(res)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(res, f, indent=1, default=str)
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in res["layers"]["all"].items()
                   if k in tracing.LAYER_METRICS}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in res["end_to_end"].items()}
    bad = [k for k, m in metrics.items() if not math.isfinite(m["value"])]
    if bad:
        raise SystemExit(f"non-finite metrics: {bad}")
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
