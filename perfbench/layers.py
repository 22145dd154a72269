#!/usr/bin/env python3
"""Per-layer table of one workload: an untraced and a traced run with the
same seed, then, per op type, every layer metric (means per op), the
unattributed remainder and the tracing overhead (traced minus untraced
median latency).

    python3 perfbench/layers.py --workload write --seed 1 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def run_once(args, trace: int, out: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--out", out]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    scratch = os.path.join(os.path.dirname(HERE), ".perfbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="layers-", dir=scratch)
    try:
        plain = run_once(args, 0, os.path.join(tmp, "untraced.json"))
        traced = run_once(args, 1, os.path.join(tmp, "traced.json"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    from run import layer_table
    overhead = {t: traced["per_type"][t]["p50"] - plain["per_type"][t]["p50"]
                for t in plain["per_type"]}
    print(f"# {args.workload} seed={args.seed}: per-layer means per op "
          f"(traced run), tracing overhead = traced - untraced p50 (s)")
    print(layer_table(traced["layers"], overhead))
    for name, res in (("untraced", plain), ("traced", traced)):
        if res["failed"]:
            print(f"# {name} run had {res['failed']} failed ops")
    return 0 if not (plain["failed"] or traced["failed"]) else 1


if __name__ == "__main__":
    sys.exit(main())
