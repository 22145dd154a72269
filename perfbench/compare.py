#!/usr/bin/env python3
"""Compare two result sets of the benchmark, parent against change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds result files written by ``run.py --out`` (any
number of workloads and seeds). For every workload and metric, prints
each side's quartiles, the fraction of pairs the change wins (runs are
paired by seed) and a verdict, by the rule of ``stats.verdict``: the
end-to-end metrics of BENCHMARK.json with their bounds, and each op
type's median latency with the bound of ``op_p50_geomean_s``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(directory: str):
    """workload -> seed -> result"""
    out = defaultdict(dict)
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            res = json.load(f)
        if "env" in res and not res["env"].get("trace"):
            out[res["env"]["workload"]][res["env"]["seed"]] = res
    return out


def metric_values(res: dict) -> dict:
    vals = dict(res["end_to_end"])
    for t, s in res["per_type"].items():
        vals[f"{t}_p50_s"] = s["p50"]
    return vals


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    op_bound = spec["op_p50_geomean_s"]["bound"]
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    header = (f"{'workload':9} {'metric':30} {'parent q1/med/q3':>28} "
              f"{'change q1/med/q3':>28} {'wins':>5}  verdict")
    print(header)
    for wl in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[wl]) & set(change[wl]))
        if len(seeds) < 2:
            print(f"{wl:9} fewer than two seeds in common; skipped")
            continue
        p_vals = [metric_values(parent[wl][s]) for s in seeds]
        c_vals = [metric_values(change[wl][s]) for s in seeds]
        for name in p_vals[0]:
            m = spec.get(name, {"bound": op_bound, "better": "lower"})
            v = stats.verdict([p[name] for p in p_vals],
                              [c[name] for c in c_vals], m["bound"],
                              m["better"] == "higher")
            fmt = "/".join(f"{x:.4g}" for x in v["parent"])
            fmt_c = "/".join(f"{x:.4g}" for x in v["change"])
            print(f"{wl:9} {name:30} {fmt:>28} {fmt_c:>28} "
                  f"{v['win_fraction']:5.2f}  {v['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
