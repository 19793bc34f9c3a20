"""Dump formatted explain output for the named queries.

Writes ``<out_dir>/<query>_<suffix>.txt`` for each query, using the same
benchmark_session conf as bench.py so the plans match what the bench
executes.  Expression ids (``#12``), ``plan_id=`` numbers and ``RDD[..]``
ids are replaced by fixed tokens: they count objects built earlier in the
process, so they shift between commits without any change of plan.  So is
the random UUID that names each ``observe`` (``CollectMetrics``'s first
argument).  One value still varies from run to run and is NOT normalized:
a driver-observed literal folded into a later plan, such as the
dangling-mass sum PageRank's lazy ranks view adds (``+ 2.08E-20``), whose
summation order varies.  Run
once per commit into its own directory (for example ``before/`` on the
base commit, ``after/`` on the change); ``diff -r before/ after/`` is then
the plan evidence for the change.

A query's plan starts at the ``Scan ExistingRDD`` of any checkpoint taken
while it was built, so each DataFrame that is ``localCheckpoint``-ed or
``checkpoint``-ed during the build is written too, as its own section
after the query's plan, in build order.  For an eager checkpoint that is
the plan its build-time job executed.

Usage::

    python scripts/dump_plans.py --out-dir plans/before --suffix sf0.1 \
        [--data-path /root/testdata/sf0.1] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_parallelism_spark.plans.shaping import explain_str  # noqa: E402
from datafusion_parallelism_spark.queries import REGISTRY  # noqa: E402
from datafusion_parallelism_spark.session import benchmark_session  # noqa: E402

_IDS = ((re.compile(r"#\d+"), "#_"), (re.compile(r"plan_id=\d+"), "plan_id=_"),
        (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
        (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"),
         "<uuid>"))


def strip_ids(plan: str) -> str:
    """``plan`` with its process-dependent ids replaced by fixed tokens."""
    for pat, token in _IDS:
        plan = pat.sub(token, plan)
    return plan


@contextmanager
def checkpointed_plans(spark):
    """Within the block, record ``(call, plan)`` for every DataFrame that
    is checkpointed: the call as written (``localCheckpoint(eager=True)``)
    and the stripped plan of the checkpointed subtree, rendered after the
    checkpoint returns.  Yields the growing list."""
    cls = type(spark.range(0))
    real = {m: getattr(cls, m) for m in ("localCheckpoint", "checkpoint")}
    sections: list[tuple[str, str]] = []

    def recording(method):
        def wrapper(self, eager=True, *args, **kwargs):
            out = real[method](self, eager, *args, **kwargs)
            sections.append((f"{method}(eager={eager})", strip_ids(explain_str(self))))
            return out

        return wrapper

    for method in real:
        setattr(cls, method, recording(method))
    try:
        yield sections
    finally:
        for method, fn in real.items():
            setattr(cls, method, fn)


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
        with checkpointed_plans(spark) as sections:
            df = REGISTRY[name].fn(spark, args.data_path)
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(strip_ids(explain_str(df)))
            for i, (call, plan) in enumerate(sections, 1):
                fh.write(f"\n== Checkpointed subtree {i}: {call} ==\n{plan}")
        print(f"wrote {path}", flush=True)


if __name__ == "__main__":
    main()
