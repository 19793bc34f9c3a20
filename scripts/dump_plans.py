"""Dump formatted explain output for the named queries.

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query, using the same
benchmark_session conf as bench.py so the plans match what the bench
executes.  Run once per commit with different suffixes (for example
``before`` on the base commit, ``after`` on the change) to get paired
plan evidence for a change.

Usage::

    python scripts/dump_plans.py --out-dir plans/r11 --suffix after \
        [--data-path /root/testdata/sf0.1] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_parallelism_spark.plans.shaping import explain_str  # noqa: E402
from datafusion_parallelism_spark.queries import REGISTRY  # noqa: E402
from datafusion_parallelism_spark.session import benchmark_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--data-path",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    unknown = [n for n in args.queries if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    os.makedirs(args.out_dir, exist_ok=True)
    spark = benchmark_session(args.data_path, app_name=f"plans-{args.suffix}")
    for name in args.queries:
        spark.sparkContext.setJobDescription(f"plan:{name}")
        df = REGISTRY[name].fn(spark, args.data_path)
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(explain_str(df))
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
