#!/usr/bin/env python
"""Isolated single-query probe at any replica scale, with conf overrides.

Single mode runs each named query in THIS process (one fresh
benchmark_session), one cold pass + optional warm passes, releasing
localCheckpoint blocks between queries off the clock (the consistent-harness
protocol of docs/scale_sweep_r5.jsonl's revalidation-v2 rows).  Each pass's
wall is plan-build + execution, bench.py's headline protocol, with the
plan/exec split reported alongside, and so are the number of generated
classes Janino compiled during the pass (``metrics.codegen_compiles``; a
warm pass that recompiles is paying codegen again), the number of Spark
jobs it launched (``metrics.jobs_submitted``) and the CPU seconds its Python
workers used (``metrics.python_worker_cpu_s``).  Each row also records the
session's ``spark.sql.shuffle.partitions``.  Prints one JSON line per
query.

Paired mode (``--paired A_DIR B_DIR``) is the round-8 protocol answer to
this VM's ±20–70% cross-window drift (VERDICT r7 item 2): for each query it
runs PROBE_PAIRS rounds of interleaved fresh-subprocess cold measurements —
A, B, A, B, … — so every A/B ratio is computed from walls measured seconds
apart in the SAME window (the design that made the r7 zstd A/B
drift-immune), and reports the per-round ratios plus their median.  Fresh
subprocesses per leg because codec/shuffle sizing are context-creation confs
and cold fresh-session walls are the like-for-like figure at GB factors
(warm passes carry prior-pass shuffle/broadcast residue; see BASELINE.md
§Warm-pass caveat).

Usage:
  python scripts/probe.py SF_DIR QUERY [QUERY ...]
  python scripts/probe.py --paired A_DIR B_DIR QUERY [QUERY ...]
  python scripts/probe.py --paired-conf SF_DIR CONF_A CONF_B QUERY [QUERY ...]
    (CONF_A/CONF_B are JSON dicts of Spark confs; same interleaved
    fresh-subprocess protocol, one dir, two configurations — for conf
    A/Bs that must be drift-immune, e.g. the r9 AQE-coalesce experiment)
Env:
  PROBE_PASSES  measured passes after the cold one (default 0 = cold only)
  PROBE_CONF    JSON dict of extra Spark confs for the session
  PROBE_PAIRS   paired mode: interleaved A/B rounds per query (default 3)
  PROBE_PLAN=1  single mode: also emit a compact signature of the final
                (post-AQE) executed plan per pass — operator names with
                join strategies/types, scans, and exchange count — for
                diagnosing bimodal walls caused by runtime plan flips
  PROBE_METRICS=1  single mode: enable the Spark UI and attach each
                pass's per-Spark-stage executor metrics (shuffle/spill/
                GC/peak-memory, datafusion_parallelism_spark.metrics) —
                the drift-robust numbers; walls still printed

Protocol note: every output row carries ``"protocol"``.  ``probe-v2``
(round 7+) times plan+exec together in both cold and warm passes; rows
WITHOUT the marker (pre-round-7, e.g. scale_sweep_r5 revalidation) used
exec-only warm_s and are NOT comparable with v2 warm values (ADVICE r7).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: See module docstring — bump when a field changes meaning.
PROTOCOL = "probe-v2"


def plan_signature(df) -> list[str]:
    """Compact final-plan signature: one entry per physical operator line
    that names a strategy decision (joins, aggregates, exchanges, scans,
    sorts).  Read AFTER execution so AQE's re-planned operators — not the
    initial plan — are what gets recorded.  AdaptiveSparkPlan.toString()
    prints BOTH sections ("== Final Plan ==" then "== Initial Plan ==");
    truncate at the initial-plan header so pre-AQE operators (e.g. the
    SortMergeJoin a runtime broadcast replaced) never leak into the
    signature and mask the very plan flips this mode exists to catch
    (ADVICE r8)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    keep = (
        "Join", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
        "Exchange", "Sort ", "Scan parquet", "AQEShuffleRead", "Expand",
    )
    import re

    sig = []
    for line in text.splitlines():
        stripped = line.lstrip(" +-*:(0123456789)")
        if any(k in stripped for k in keep):
            op = stripped.split("[")[0].split(",")[0].strip()
            # join lines: re-attach the type and build-side tokens that
            # live after the key lists (e.g. "LeftAnti, BuildRight")
            extras = re.findall(
                r"\b(Inner|LeftOuter|RightOuter|FullOuter|LeftSemi|LeftAnti|"
                r"ExistenceJoin|Cross|BuildLeft|BuildRight)\b",
                stripped,
            )
            if extras:
                op = f"{op} {' '.join(dict.fromkeys(extras))}"
            sig.append(op[:100])
    return sig


def run_single(sf_dir: str, names: list[str]) -> int:
    from datafusion_parallelism_spark.metrics import (
        codegen_compiles,
        jobs_submitted,
        python_worker_cpu_s,
    )
    from datafusion_parallelism_spark.queries import REGISTRY
    from datafusion_parallelism_spark.session import (
        benchmark_session,
        force_execute,
        persistent_rdd_ids,
        release_persisted,
    )

    extra_conf = json.loads(os.environ.get("PROBE_CONF", "{}"))
    warm_passes = int(os.environ.get("PROBE_PASSES", "0"))
    want_metrics = os.environ.get("PROBE_METRICS", "") == "1"
    if want_metrics:
        extra_conf.setdefault("spark.ui.enabled", "true")
    spark = benchmark_session(sf_dir, app_name="probe", extra_conf=extra_conf)
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keep_ids = frozenset(persistent_rdd_ids(spark))
    seen_stage_ids: set[int] = set()
    for name in names:
        # Every pass times plan-build AND execution together (bench.py's
        # headline protocol, so rows are comparable with the scale-sweep
        # records), with the split reported separately.  The split is NOT
        # "py4j vs compute": under AQE, a lazy localCheckpoint's toRdd
        # materializes every upstream query stage inside fn(), so for
        # checkpoint-bearing queries at GB factors most of the work lands
        # in the build half — only the combined wall is protocol-stable.
        # PROBE_PLAN diagnostic mode: execute via .collect() on the df's
        # OWN QueryExecution (force_execute's noop write plans a separate
        # one, whose final adaptive plan is unreachable afterwards), then
        # read the post-AQE executed plan.  Walls in this mode include row
        # collection and are NOT protocol-comparable with probe-v2 rows —
        # it exists to diagnose bimodal walls by comparing plan signatures
        # across passes/JVMs, not to produce records.
        want_plan = os.environ.get("PROBE_PLAN", "") == "1"

        def one_pass():
            c0 = codegen_compiles(spark)
            j0 = jobs_submitted(spark)
            p0 = python_worker_cpu_s(spark)
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, sf_dir)
            t1 = time.perf_counter()
            if want_plan:
                df.collect()
            else:
                force_execute(df)
            t2 = time.perf_counter()
            compiles = codegen_compiles(spark) - c0
            jobs = jobs_submitted(spark) - j0
            python_cpu = round(python_worker_cpu_s(spark) - p0, 3)
            sig = plan_signature(df) if want_plan else None
            metrics = None
            if want_metrics:
                from datafusion_parallelism_spark.metrics import (
                    stage_metrics,
                    totals,
                )

                all_stages = stage_metrics(spark)
                mine = {
                    k: v
                    for k, v in all_stages.items()
                    if k not in seen_stage_ids
                }
                seen_stage_ids.update(all_stages)
                metrics = {
                    "totals": totals(mine),
                    "stages": sorted(
                        (dict(v, stage_id=k) for k, v in mine.items()),
                        key=lambda r: -r["run_ms"],
                    ),
                }
            return (
                round(t2 - t0, 3),
                round(t1 - t0, 3),
                round(t2 - t1, 3),
                sig,
                metrics,
                compiles,
                jobs,
                python_cpu,
            )

        (
            cold_wall, cold_plan, cold_exec, cold_sig, cold_metrics,
            cold_compiles, cold_jobs, cold_python_cpu,
        ) = one_pass()
        warms = []
        for _ in range(warm_passes):
            release_persisted(spark, keep_ids)
            warms.append(one_pass())
        rec = {
            "protocol": PROTOCOL + ("-plan" if want_plan else ""),
            "query": name,
            "sf_dir": sf_dir,
            "cold_s": cold_wall,
            "cold_split_s": {"plan": cold_plan, "exec": cold_exec},
            "warm_s": [w[0] for w in warms],
            "warm_split_s": [{"plan": w[1], "exec": w[2]} for w in warms],
            "cold_codegen_compiles": cold_compiles,
            "warm_codegen_compiles": [w[5] for w in warms],
            "cold_jobs": cold_jobs,
            "warm_jobs": [w[6] for w in warms],
            "cold_python_cpu_s": cold_python_cpu,
            "warm_python_cpu_s": [w[7] for w in warms],
            "shuffle_partitions": shuffle_partitions,
            "conf": extra_conf,
        }
        if want_plan:
            rec["cold_plan_sig"] = cold_sig
            rec["warm_plan_sigs"] = [w[3] for w in warms]
        if want_metrics:
            rec["cold_metrics"] = cold_metrics
            rec["warm_metrics"] = [w[4] for w in warms]
        print(json.dumps(rec), flush=True)
        release_persisted(spark, keep_ids)
    return 0


def _cold_in_subprocess(sf_dir: str, name: str, conf: str | None = None) -> float:
    """One fresh-process cold wall for (sf_dir, query); PROBE_CONF inherits
    unless ``conf`` (a JSON string) overrides it for this leg."""
    env = dict(os.environ, PROBE_PASSES="0")
    if conf is not None:
        env["PROBE_CONF"] = conf
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, name],
        env=env,
        capture_output=True,
        text=True,
        timeout=7200,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue
        if rec.get("query") == name:
            return rec["cold_s"]
    raise RuntimeError(
        f"probe subprocess produced no result for {name} at {sf_dir}: "
        f"rc={proc.returncode} {proc.stderr[-300:]!r}"
    )


def run_paired(a_dir: str, b_dir: str, names: list[str]) -> int:
    pairs = int(os.environ.get("PROBE_PAIRS", "3"))
    for name in names:
        rounds = []
        for i in range(pairs):
            try:
                a = _cold_in_subprocess(a_dir, name)
                b = _cold_in_subprocess(b_dir, name)
            except (RuntimeError, subprocess.TimeoutExpired) as exc:
                # One dead subprocess (OOM-killed leg, lost pipe) must not
                # void the pairs already measured; record and continue.
                print(f"  pair {i + 1}/{pairs} {name}: LOST ({exc})",
                      file=sys.stderr, flush=True)
                continue
            rounds.append({"a_s": a, "b_s": b, "ratio": round(b / a, 3)})
            print(
                f"  pair {i + 1}/{pairs} {name}: a={a:.1f}s b={b:.1f}s "
                f"ratio={b / a:.2f}",
                file=sys.stderr,
                flush=True,
            )
        print(
            json.dumps(
                {
                    "protocol": PROTOCOL + "-paired",
                    "query": name,
                    "a_dir": a_dir,
                    "b_dir": b_dir,
                    "pairs": rounds,
                    "median_ratio": round(
                        statistics.median(r["ratio"] for r in rounds), 3
                    ) if rounds else None,
                    "conf": json.loads(os.environ.get("PROBE_CONF", "{}")),
                }
            ),
            flush=True,
        )
    return 0


def run_paired_conf(sf_dir: str, conf_a: str, conf_b: str, names: list[str]) -> int:
    json.loads(conf_a), json.loads(conf_b)  # fail fast on malformed JSON
    pairs = int(os.environ.get("PROBE_PAIRS", "3"))
    for name in names:
        rounds = []
        for i in range(pairs):
            try:
                a = _cold_in_subprocess(sf_dir, name, conf=conf_a)
                b = _cold_in_subprocess(sf_dir, name, conf=conf_b)
            except (RuntimeError, subprocess.TimeoutExpired) as exc:
                print(f"  pair {i + 1}/{pairs} {name}: LOST ({exc})",
                      file=sys.stderr, flush=True)
                continue
            rounds.append({"a_s": a, "b_s": b, "ratio": round(b / a, 3)})
            print(
                f"  pair {i + 1}/{pairs} {name}: a={a:.1f}s b={b:.1f}s "
                f"ratio={b / a:.2f}",
                file=sys.stderr,
                flush=True,
            )
        print(
            json.dumps(
                {
                    "protocol": PROTOCOL + "-paired-conf",
                    "query": name,
                    "sf_dir": sf_dir,
                    "conf_a": json.loads(conf_a),
                    "conf_b": json.loads(conf_b),
                    "pairs": rounds,
                    "median_ratio": round(
                        statistics.median(r["ratio"] for r in rounds), 3
                    ) if rounds else None,
                }
            ),
            flush=True,
        )
    return 0


def main() -> int:
    if sys.argv[1] == "--paired":
        return run_paired(sys.argv[2], sys.argv[3], sys.argv[4:])
    if sys.argv[1] == "--paired-conf":
        return run_paired_conf(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5:])
    return run_single(sys.argv[1], sys.argv[2:])


if __name__ == "__main__":
    sys.exit(main())
