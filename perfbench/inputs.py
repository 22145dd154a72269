#!/usr/bin/env python3
"""Build one workload's raw inputs and expected answers from a seed.

    python3 perfbench/inputs.py --workload read --seed 1 --dir DIR

Writes seeded raw Parquet under ``DIR/raw`` and the workload's plan
(file paths, predicates, DML key slices and every expected answer, all
plain JSON values) to ``DIR/plan.json``. ``run.py`` runs this in a
process of its own, so the driver process that hosts the engine holds
none of the generator's or DuckDB's memory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def main() -> int:
    import numpy as np

    from oracle import Oracle
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    args = ap.parse_args()
    oracle = Oracle()
    try:
        plan = WORKLOADS[args.workload].inputs(
            np.random.default_rng(args.seed), os.path.join(args.dir, "raw"),
            oracle)
    finally:
        oracle.close()
    with open(os.path.join(args.dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
