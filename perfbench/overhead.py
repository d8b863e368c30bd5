#!/usr/bin/env python3
"""Tracing overhead: the same workload and seed, untraced then traced.

    python3 perfbench/overhead.py --workload delta --seed 1

Run from the root of a checkout. Each pass is one ``run.py`` run in its
own JVM. Prints one JSON line: for every end-to-end metric, the untraced
value, the traced run's ``trace.<name>`` value and their ratio (traced /
untraced, so 1.05 means tracing added 5%).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import END_TO_END, HERE


def last_metrics(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    plain = last_metrics(args.workload, args.seed, 0)
    traced = last_metrics(args.workload, args.seed, 1)
    report = {}
    for name in END_TO_END:
        a, b = plain[name]["value"], traced[f"trace.{name}"]["value"]
        report[name] = {"untraced": a, "traced": b, "ratio": b / a}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
