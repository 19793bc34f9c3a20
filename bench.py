#!/usr/bin/env python
"""Benchmark harness (driver contract: one JSON line to stdout).

Runs the headline query set at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Analog of the reference's TPC-H harness (``tpc/src/main.rs:143-288``): it
times each query's full execution (all stages), forced with the ``noop``
sink so the measurement includes every operator but excludes driver-side
materialization — the same posture as the reference's ``collect`` into a
discarded Vec.

Measurement protocol (reference parity, fixed in round 4):

* **Each measured pass rebuilds the DataFrame from scratch and then
  executes it — plan + execution are both inside the timed window.**
  This matches the reference protocol exactly: ``tpc/src/main.rs:328-340``
  starts its timer *before* ``ctx.sql(sql)``, so parse + logical +
  physical planning are measured in every iteration.  (Rounds 1-3 cached
  the plan and timed only re-executions; besides the parity break, a
  cached plan lets ``localCheckpoint`` materializations from the warm-up
  short-circuit the expensive stages of checkpoint-bearing queries such
  as dedup_minhash_lsh out of the measured passes entirely.  Rebuilding
  per pass closes both holes.)
* Both walls are still reported per query: ``queries`` (headline) is the
  plan-inclusive mean, ``queries_exec`` the execution-only mean and
  ``queries_plan`` the DataFrame-build mean, so the plan/exec split stays
  visible.
* One warm-up pass per query (JVM JIT + whole-stage-codegen compile +
  Python module imports), then PASSES measured CONSECUTIVE iterations —
  criterion / ``tpc --iterations N`` loop the same query back-to-back.
* Headline means use criterion-style Tukey outlier rejection (samples
  above Q3 + 1.5*IQR — a GC pause or transient host stall — are dropped;
  the drop count is reported as ``outliers``).  Per-query minima are
  included as ``queries_min`` for noise diagnosis.
* The periodic context-cleaner GC (session default 45 s) is deferred to
  30 min for the bench session so a full driver GC cannot fire inside a
  measured window; the harness runs an explicit ``System.gc()`` between
  query blocks instead, which performs the same broadcast/shuffle-file
  cleanup off the clock.
* Dead localCheckpoint blocks are explicitly unpersisted between passes
  and between queries (``session.release_persisted``, off the clock).  Relying
  on GC alone does NOT release them promptly — the Python wrapper must
  be collected, py4j must relay the finalizer, and ContextCleaner must
  process the queue — and at GB-scale factors the leak is measurable:
  in the x256 sweep session the late-position queries ran 2-3x slower
  than the same query in a fresh session (tpch_q18 38.1 s in-session vs
  20.7 s isolated; agg_count_distinct 53.0 vs 22.1; vec_kmeans 48.8 vs
  21.5 — identical walls at 24 g and 64 g heap, so heap size was NOT the
  cause; block-manager eviction churn was).  The reference has no such
  residue (DataFusion frees each query's memory deterministically on
  drop), so releasing finished passes' blocks is protocol parity, not a
  discount: nothing a measured pass builds is ever reused by a later
  pass — each pass still re-materializes its own checkpoints from
  scratch (the round-4 honesty fix stands).
* **Same-window DuckDB walls** (``duckdb_queries`` / ``duckdb_total``,
  plus ``ratio`` = spark/duckdb) are measured in the same process run so
  the comparison can never straddle a machine-state change: each headline
  query's oracle SQL runs 3 times warm on a thread-matched DuckDB
  connection and the best wall is recorded (DuckDB's walls include its
  planning, as does ours).  Skippable with SPARK_GRAFT_NO_DUCKDB=1.
* Field caveat: ``queries_plan`` times the build function ``fn(spark,
  sf_dir)``, which for ITERATIVE queries (pagerank, connected
  components, k-means/PQ training) performs eager work — counts,
  localCheckpoints, the whole training loop — so nearly their entire
  wall lands in ``queries_plan`` and ``queries_exec`` only times the
  final lazy stage.  The headline ``queries`` (= plan+exec) is
  unaffected; read the split as build/collect for those queries.

Driver contract (fixed in round 5): the stdout JSON line is kept COMPACT
(metric/value/unit/queries/sf/ratio — ~1 KB) because the driver's tail
capture truncated the ~4 KB round-4 line and recorded ``parsed: null``.
The full detail (exec/plan split, minima, outliers, per-query DuckDB
walls) is written to ``docs/bench_full_last.json`` instead.

The CORE15 list is the round-1-3 fixed set (kept so per-round totals stay
comparable); EXTENDED adds one representative per capability family that
landed later (graph, PQ/ANN-quantized, winnowing, k-means).  Entries are
skipped silently if a query is not (yet) registered.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datafusion_parallelism_spark.queries import REGISTRY  # noqa: E402
from datafusion_parallelism_spark.session import (  # noqa: E402
    benchmark_session,
    default_cpus,
    force_execute as _force,
    persistent_rdd_ids as _persistent_ids,
    release_persisted as _release_persisted,
)

#: Fixed round-1-3 headline set: the reference's own subject (multi-join
#: TPC-H) plus one representative per capability family.
CORE15 = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q9",
    "tpch_q18",
    "tpch_q21",
    "join_inner_chain",
    "join_full_residual",
    "window_rank_orders",
    "events_sessionize",
    "agg_count_distinct",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
]

#: Round-4+ additions: newest capability families (VERDICT r3 item 8).
EXTENDED = [
    "graph_pagerank",
    "graph_triangle_counts",
    "dedup_winnow_spans",
    "vec_kmeans_clusters",
    "ann_pq_topk",
]

#: Full headline set (scripts/scale_sweep.py sweeps this list).
HEADLINE = CORE15 + EXTENDED

#: Measured passes per query (after one warm-up).  The driver contract runs
#: the default 5; scripts/scale_sweep.py sets SPARK_GRAFT_PASSES=2 at GB
#: factors, where a single pass already dwarfs scheduling noise and 6
#: full-corpus executions per query would cost hours of sweep wall.
PASSES = int(os.environ.get("SPARK_GRAFT_PASSES", "5"))
DUCKDB_RUNS = 3


def _tukey_keep(ts: list[float]) -> list[float]:
    """Criterion-style outlier rejection: drop samples above the upper
    Tukey fence (Q3 + 1.5*IQR).  Only the HIGH side is fenced — a low
    sample is a legitimately fast run, a high one at these magnitudes is
    a GC pause or host stall, not query work.  Always keeps >= half."""
    s = sorted(ts)
    n = len(s)
    q1 = s[max(0, (n - 1) // 4)]
    q3 = s[min(n - 1, (3 * (n - 1) + 2) // 4)]
    fence = q3 + 1.5 * (q3 - q1)
    kept = [t for t in ts if t <= fence]
    return kept if kept else ts


def _mean(ts: list[float]) -> float:
    return sum(ts) / len(ts)


def _duckdb_walls(names: list[str], sf_dir: str, cpus: int) -> dict[str, float]:
    """Same-window DuckDB comparison: best-of-DUCKDB_RUNS warm wall per
    headline query's oracle SQL, threads pinned to the Spark core count.
    DuckDB's wall includes its planning — so does ours now."""
    import __spark_entry__ as entry
    from datafusion_parallelism_spark.testing import duckdb_connection

    oracles = entry.oracle_sql()
    con = duckdb_connection(sf_dir)
    con.execute(f"SET threads={cpus}")
    walls: dict[str, float] = {}
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        con.execute(sql).fetchall()  # warm (buffer cache / JIT)
        best = float("inf")
        for _ in range(DUCKDB_RUNS):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        walls[name] = round(best, 3)
    return walls


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    cpus = default_cpus()
    spark = benchmark_session(
        sf_dir,
        app_name="bench",
        extra_conf={"spark.cleaner.periodicGC.interval": "30min"},
    )

    # SPARK_GRAFT_FROM_MEMORY=1: the reference's memory-resident benchmark
    # configuration (tpc/src/main.rs:386-412 StaticTable mode) — cache every
    # table in executor memory first; Spark's cache manager substitutes the
    # InMemoryRelation into every subsequent plan, removing the scan share
    # from the measured walls.
    from_memory = os.environ.get("SPARK_GRAFT_FROM_MEMORY", "") == "1"
    if from_memory:
        from datafusion_parallelism_spark.sources.memory import materialize_tables

        materialize_tables(spark, sf_dir)

    names = [n for n in CORE15 + EXTENDED if n in REGISTRY]

    # Per query: one unmeasured warm-up (build + execute), then PASSES
    # measured passes, each rebuilding the DataFrame before executing it —
    # plan AND execution inside the window (reference parity; see module
    # docstring).  Fresh builds also re-materialize any localCheckpoint in
    # the plan every pass, so checkpoint-bearing queries are measured
    # end-to-end.
    plan_samples: dict[str, list[float]] = {n: [] for n in names}
    exec_samples: dict[str, list[float]] = {n: [] for n in names}
    wall_samples: dict[str, list[float]] = {n: [] for n in names}
    # Persistent-RDD ids present BEFORE any query (from_memory cached
    # tables live here): never unpersisted by the per-pass cleanup.
    keep_ids = _persistent_ids(spark)
    for name in names:
        fn = REGISTRY[name].fn
        _force(fn(spark, sf_dir))  # warm-up: JIT + codegen + imports
        _release_persisted(spark, keep_ids)
        spark._jvm.System.gc()  # off-the-clock cleanup before the block
        for _ in range(PASSES):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            _force(df)
            t2 = time.perf_counter()
            plan_samples[name].append(t1 - t0)
            exec_samples[name].append(t2 - t1)
            wall_samples[name].append(t2 - t0)
            del df
            _release_persisted(spark, keep_ids)  # off the clock

    # Tukey-reject on the headline (plan-inclusive) wall; the exec/plan
    # split is reported from the SAME kept passes so the parts sum to the
    # whole.
    kept_idx = {}
    for n in names:
        kept_wall = _tukey_keep(wall_samples[n])
        # indices of kept samples (first occurrence wins for duplicates)
        used = []
        pool = list(kept_wall)
        for i, w in enumerate(wall_samples[n]):
            if w in pool:
                pool.remove(w)
                used.append(i)
        kept_idx[n] = used

    means = {
        n: round(_mean([wall_samples[n][i] for i in kept_idx[n]]), 3) for n in names
    }
    means_exec = {
        n: round(_mean([exec_samples[n][i] for i in kept_idx[n]]), 3) for n in names
    }
    means_plan = {
        n: round(_mean([plan_samples[n][i] for i in kept_idx[n]]), 3) for n in names
    }
    mins = {n: round(min(wall_samples[n]), 3) for n in names}
    outliers = {
        n: PASSES - len(kept_idx[n]) for n in names if len(kept_idx[n]) < PASSES
    }

    duckdb_walls: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_NO_DUCKDB", "") != "1":
        try:
            duckdb_walls = _duckdb_walls(names, sf_dir, cpus)
        except Exception as exc:  # noqa: BLE001 — comparison is best-effort
            duckdb_walls = {"_error": str(exc)}  # type: ignore[dict-item]

    total = round(sum(means.values()), 3)
    dd_ok = duckdb_walls and "_error" not in duckdb_walls
    dd_total = round(sum(duckdb_walls.values()), 3) if dd_ok else None
    # Compact stdout line (driver contract — must stay well under the
    # driver's tail-capture window; BENCH_r04 was recorded parsed:null
    # because the full-detail line grew past it).  Everything else goes
    # to docs/bench_full_last.json.
    out = {
        "metric": "headline_corpus_wall",
        "value": total,
        "unit": "sec",
        "queries": means,
        "sf": sf_val,
    }
    detail = {
        **out,
        "queries_exec": means_exec,
        "queries_plan": means_plan,
        "queries_min": mins,
        "outliers": outliers,
        "value_core15": round(sum(means[n] for n in names if n in CORE15), 3),
        "passes": PASSES,
        "protocol": "fresh-plan-per-pass (plan+exec timed, ref tpc/src/main.rs:328-340)",
        "from_memory": from_memory,
    }
    if dd_ok:
        detail["duckdb_queries"] = duckdb_walls
        detail["duckdb_total"] = dd_total
        covered = [n for n in names if n in duckdb_walls]
        spark_covered = sum(means[n] for n in covered)
        ratio = round(spark_covered / max(dd_total, 1e-9), 2)
        out["duckdb_total"] = dd_total
        out["ratio_vs_duckdb"] = ratio
        out["value_core15"] = detail["value_core15"]
        core_cov = [n for n in covered if n in CORE15]
        dd_core = sum(duckdb_walls[n] for n in core_cov)
        out["ratio_core15"] = detail["ratio_core15"] = round(
            sum(means[n] for n in core_cov) / max(dd_core, 1e-9), 2
        )
        detail["ratio_vs_duckdb"] = ratio
    elif duckdb_walls:
        out["duckdb_error"] = detail["duckdb_error"] = duckdb_walls.get("_error")
    try:
        os.makedirs("docs", exist_ok=True)
        with open("docs/bench_full_last.json", "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # detail record is best-effort; the contract line is not
    line = json.dumps(out)
    if len(line) > 2000:  # hard guard on the driver contract
        out.pop("queries", None)
        line = json.dumps(out)
    print(line)

    # Optional scale leg (round 11, VERDICT r10 item 6 — ADDITIONS ONLY):
    # SPARK_GRAFT_BENCH_REPLICA=x64 re-runs the same headline set against
    # the existing replica layout (/tmp/spark_graft_scale/x{F}, generated
    # by scripts/scale_sweep.py) in a FRESH subprocess (cold JVM, its own
    # size-gated session conf) and prints a SECOND, differently-labeled
    # JSON line.  The primary line above is untouched: same queries, same
    # timed region, printed first; the driver never sets this env var, so
    # its capture still sees exactly one line by default.
    replica = os.environ.get("SPARK_GRAFT_BENCH_REPLICA", "")
    if replica:
        import subprocess

        factor = replica.lstrip("x")
        rep_dir = f"/tmp/spark_graft_scale/x{factor}"
        here = os.path.dirname(os.path.abspath(__file__))
        if not os.path.exists(os.path.join(rep_dir, "lineitem.parquet")):
            subprocess.run(
                [sys.executable, os.path.join(here, "scripts/scale_sweep.py"),
                 "--generate-only", factor],
                check=True,
            )
        env = dict(os.environ)
        env.pop("SPARK_GRAFT_BENCH_REPLICA", None)  # no recursion
        env["SPARK_GRAFT_SF_DIR"] = rep_dir
        # One measured pass per query at GB factors (scale_sweep's own
        # convention); overridable with SPARK_GRAFT_REPLICA_PASSES.
        env["SPARK_GRAFT_PASSES"] = os.environ.get(
            "SPARK_GRAFT_REPLICA_PASSES", "1"
        )
        env.setdefault("SPARK_GRAFT_NO_DUCKDB", "1")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True, check=False,
        )
        for ln in reversed(proc.stdout.splitlines()):
            try:
                rep_out = json.loads(ln)
                break
            except ValueError:
                continue
        else:
            rep_out = {"error": f"replica leg produced no JSON (rc={proc.returncode})"}
        rep_out["metric"] = f"headline_corpus_wall_x{factor}"
        print(json.dumps(rep_out))


if __name__ == "__main__":
    main()
