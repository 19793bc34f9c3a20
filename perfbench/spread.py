#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

Usage (from the repository root)::

    python3 perfbench/spread.py --workload sql_sf0.01 --seeds 1-10 [--out runs.jsonl]

Runs ``perfbench/run.py`` once per seed, one run at a time, with the
``run_seconds`` of ``BENCHMARK.json``, and prints for each end-to-end
metric the median and the quartile spread (Q3 - Q1) / median next to the
metric's bound.  With ``--out``, each run's result and record are
appended to that file as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=180)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        if args.out:
            record = json.loads(lines[-2])["record"]
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **result, "record": record}) + "\n")
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
    if len(seeds(args.seeds)) >= 2:
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            print(f"{m['name']:16s} median={stats.median(v):.4f} "
                  f"spread={stats.quartile_spread(v):.4f} bound={m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
