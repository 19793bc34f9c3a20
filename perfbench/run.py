#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload sql_sf0.01 --seed 1 --seconds 10 --trace 0

One driver process runs the workload's queries one at a time (a closed
loop) on ``local[<nproc>]`` through the engine's public entry points:
``session.benchmark_session`` and ``register_tables``, ``REGISTRY[name].fn``
for the DataFrame build, ``session.force_execute`` for execution and, when
traced, ``metrics.stage_metrics`` for stage counters.

A run has a child process build its input tables and oracle digests
(cached under ``perfbench/.cache``, not timed), sets up a session, runs one
warm-up pass that checks every result against the DuckDB oracle, then runs
measured passes until ``--seconds`` have elapsed (at least three).  Every pass rebuilds every DataFrame and executes it; the
seed shuffles the query order within each pass.

End-to-end times are CPU seconds of this process, the JVM and the JVM's
Python workers, read from ``/proc`` (``perfbench/proc.py``), so that steal
time and other tenants on a shared host do not count in them; wall times
are per-layer metrics.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` first runs
untraced passes in that same posture (Spark UI off) for half of
``--seconds``, then restarts the session with the UI on, which the REST
counters need, and alternates untraced and traced passes for the other
half.  It prints the per-layer metrics, a per-query layer table and the
tracing overhead, and writes the spans as JSON lines to
``perfbench/.cache/spans/<workload>-seed<seed>.jsonl``.  The
last stdout line is always one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import proc, stats  # noqa: E402
from perfbench.tracer import TRACE_CONF, TraceError, Tracer  # noqa: E402
from perfbench.workloads import ALL_QUERIES, WORKLOADS  # noqa: E402

CACHE = os.path.join(ROOT, "perfbench", ".cache")
#: Data seed: fixed, so every workload seed runs on the same tables and the
#: oracle digests are computed once per data directory.
DATA_SEED = 42
DRIVER_MEM_GB = 2
#: Every run measures at least this many passes.  After the one warm-up
#: pass the JIT is still compiling: the first measured pass costs 5-50%
#: more CPU than the third, and later passes still get slowly cheaper.
#: So the CPU metrics are medians over exactly the first MIN_PASSES
#: measured passes, the same passes in every run, and not over however
#: many passes the host's speed fitted into the window.
MIN_PASSES = 3

#: Stage and executor counters summed over a pass (peak memory is a max).
_SUMMED = (
    "queries.build_s", "queries.eager_jobs", "queries.eager_s", "queries.analyze_s",
    "plans.catalyst_s", "plans.exchanges", "plans.broadcasts", "plans.python_nodes",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
    "exec.run_ms", "stage.run_ms", "stage.cpu_ms", "stage.gc_ms", "stage.input_mb",
    "stage.shuffle_write_mb", "stage.shuffle_read_mb", "stage.spill_mem_mb",
    "stage.spill_disk_mb", "python.total_ms", "python.boot_ms",
    "python.data_sent_mb", "python.data_received_mb",
)

#: Units of every reported metric.
UNITS = {
    "pass_cpu_s": "s", "query_gmean_cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
    "ok_frac": "ratio",
    "pass_s": "s", "query_gmean_s": "s", "setup_wall_s": "s",
    "session.start_s": "s", "session.register_s": "s", "session.warmup_s": "s",
    "queries.build_s": "s", "queries.eager_jobs": "count", "queries.eager_s": "s",
    "queries.analyze_s": "s", "plans.catalyst_s": "s", "plans.exchanges": "count",
    "plans.broadcasts": "count", "plans.python_nodes": "count", "exec.s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.core_util": "ratio", "stage.run_ms": "ms",
    "stage.cpu_ms": "ms", "stage.cpu_frac": "ratio", "stage.gc_ms": "ms",
    "stage.input_mb": "MB", "stage.shuffle_write_mb": "MB",
    "stage.shuffle_read_mb": "MB", "stage.spill_mem_mb": "MB",
    "stage.spill_disk_mb": "MB", "stage.peak_exec_mem_mb": "MB",
    "python.total_ms": "ms", "python.boot_ms": "ms", "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB", "trace.pass_s": "s", "trace.overhead_s": "s",
    "trace.ui_s": "s",
    **{f"q.{q}.wall_s": "s" for q in ALL_QUERIES},
}
END_TO_END = ("pass_cpu_s", "query_gmean_cpu_s", "setup_s", "peak_rss_mb", "ok_frac")
PER_LAYER = tuple(k for k in UNITS if k not in END_TO_END)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's data scale (smoke tests)")
    ap.add_argument("--queries", default=None,
                    help="comma-separated list replacing the workload's queries "
                         "(to survey candidate queries with --trace 1)")
    return ap.parse_args(argv)


def driver_mem_gb() -> int:
    """Driver heap: DRIVER_MEM_GB, capped at half of physical memory."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(1, min(DRIVER_MEM_GB, phys // 2**31))


def configure_env(cores: int, mem_gb: int) -> dict[str, str]:
    """Pin cores and memory, keep every scratch file inside the cache dir,
    and let Python workers import the engine.  Must run before the JVM.

    The heap starts at its maximum (-Xms = -Xmx): a heap that grows on
    demand reaches a different size on each run, which alone moved the
    JVM's peak RSS by +-15% between runs of the same workload.  The JIT
    compiler threads are started once and never exit, so that their CPU
    time can be told apart (``proc.thread_ticks``)."""
    dirs = {k: os.path.join(CACHE, k) for k in ("tmp", "spark-local", "warehouse", "spans")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{mem_gb}g"
        " -Xmn512m -XX:-UseDynamicNumberOfCompilerThreads".strip()
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    return dirs


def _first_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0] if text else ''}"[:300]


class Run:
    """One workload run in one Spark session."""

    def __init__(self, args, workload, sf_dir, oracle, cores, dirs):
        from datafusion_parallelism_spark import session
        from datafusion_parallelism_spark.queries import REGISTRY

        self.args = args
        self.workload = workload
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.cores = cores
        self.dirs = dirs
        self.session = session
        self.registry = REGISTRY
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[dict] = []
        self.oracle_results: dict[str, str] = {}
        self.setup: dict[str, float] = {}
        self.spark = None
        self.tracer = Tracer() if args.trace else None
        self.keep_ids: set[int] = set()
        self.jvm_pid = 0

    def order(self) -> list[str]:
        return self.rng.sample(list(self.workload.queries), len(self.workload.queries))

    def _fail(self, query: str, phase: str, detail: str) -> None:
        self.failures.append({"query": query, "phase": phase, "detail": detail})

    def span(self, name: str, **attrs):
        """A tracer span in a traced run, a no-op otherwise."""
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def _cleanup(self) -> None:
        """Off-the-clock release of checkpoint blocks a query left behind."""
        self.session.release_persisted(self.spark, self.keep_ids)

    def _session(self, ui: bool):
        conf = {
            "spark.cleaner.periodicGC.interval": "30min",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
            **(TRACE_CONF if ui else {}),
        }
        return self.session.benchmark_session(self.sf_dir, app_name="perfbench", extra_conf=conf)

    def start(self) -> None:
        """Session start and table registration, in the end-to-end
        posture (Spark UI off) for untraced and traced runs alike."""
        t = time.perf_counter()
        with self.span("session.start"):
            self.spark = self._session(ui=False)
        self.setup["session.start_s"] = time.perf_counter() - t
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        if not any(n.startswith(proc.JIT_THREADS) for n in proc.thread_names(self.jvm_pid)):
            raise RuntimeError(f"no JIT compiler thread {proc.JIT_THREADS} in the JVM")
        t = time.perf_counter()
        with self.span("session.register"):
            self.session.register_tables(self.spark, self.sf_dir)
        self.setup["session.register_s"] = time.perf_counter() - t
        self.keep_ids = self.session.persistent_rdd_ids(self.spark)

    def restart_traced(self) -> None:
        """Replace the session with one that has the Spark UI on, which the
        REST counters need, and warm it with one untraced pass (the JVM
        and its JIT stay warm across the restart)."""
        with self.span("session.restart"):
            self.spark.stop()
            self.spark = self._session(ui=True)
            self.session.register_tables(self.spark, self.sf_dir)
            self.keep_ids = self.session.persistent_rdd_ids(self.spark)
            self.tracer.attach(self.spark)
            for q in self.order():
                self.run_query(q, False, "warmup")
        self.spark._jvm.System.gc()

    def warmup(self) -> None:
        """One warm-up pass that collects every result and checks it
        against the oracle; only its builds and collects are timed."""
        with self.span("session.warmup"):
            self.setup["session.warmup_s"] = self._oracle_pass()
        self.spark._jvm.System.gc()

    def _oracle_pass(self) -> float:
        total = 0.0
        for q in self.order():
            self.attempted += 1
            t = time.perf_counter()
            try:
                df = self.registry[q].fn(self.spark, self.sf_dir)
                cols = list(df.columns)
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # noqa: BLE001 — counted and named
                total += time.perf_counter() - t
                self.oracle_results[q] = f"FAIL {_first_line(exc)}"
                self._fail(q, "warmup", _first_line(exc))
                self._cleanup()
                continue
            total += time.perf_counter() - t
            ok, detail = self.oracle.check(q, cols, rows)
            self.oracle_results[q] = ("PASS " if ok else "FAIL ") + detail
            if not ok:
                self._fail(q, "oracle", detail)
            del df, rows
            self._cleanup()
        return total

    def cpu_s(self, jit: bool = False) -> float:
        """CPU seconds so far of this process, the JVM and its workers;
        with the JVM's JIT compiler threads only if ``jit``."""
        exclude = () if jit else proc.JIT_THREADS
        return proc.self_cpu_s() + proc.tree_cpu_s(self.jvm_pid, exclude)

    def run_query(
        self, q: str, traced: bool, phase: str = "measured"
    ) -> tuple[float, float, dict | None]:
        """Build and execute one query: its wall and CPU seconds, and its
        counters when traced."""
        fn = self.registry[q].fn
        self.attempted += 1
        counters = None
        c = self.cpu_s()
        t = time.perf_counter()
        try:
            if traced:
                counters = self.tracer.query(
                    q, lambda: fn(self.spark, self.sf_dir), self.session.force_execute
                )
            else:
                self.session.force_execute(fn(self.spark, self.sf_dir))
        except TraceError:
            raise
        except Exception as exc:  # noqa: BLE001 — counted and named
            self._fail(q, phase, _first_line(exc))
        wall = time.perf_counter() - t
        cpu = self.cpu_s() - c
        self._cleanup()
        return wall, cpu, counters

    def measure(self, seconds: float, alternate: bool) -> list[dict]:
        """Measured passes until ``seconds`` have elapsed, and at least
        MIN_PASSES.  Each pass is ``plain`` (UI off), ``ui`` (UI on, untraced)
        or ``traced``.  With ``alternate`` (the UI-on session of a traced
        run) passes go ui, traced, ui, ... and end on ui, so a linear drift
        across passes cancels in the tracing cost."""
        kind = "ui" if alternate else "plain"
        passes: list[dict] = []
        start = time.perf_counter()
        while (
            time.perf_counter() - start < seconds
            or len(passes) < MIN_PASSES
            or (alternate and len(passes) % 2 == 0)
        ):
            traced = alternate and len(passes) % 2 == 1
            walls, cpus, counters = {}, {}, {}
            t = time.perf_counter()
            with self.span("pass", index=len(passes), kind="traced" if traced else kind):
                for q in self.order():
                    walls[q], cpus[q], counters[q] = self.run_query(q, traced)
            passes.append({
                "kind": "traced" if traced else kind,
                "wall_s": time.perf_counter() - t,
                "cpu_s": sum(cpus.values()),
                "queries": walls,
                "query_cpu": cpus,
                "counters": counters if traced else None,
            })
            self.spark._jvm.System.gc()  # off the clock, between passes
        return passes

    def peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _walls(passes: list[dict], kind: str) -> list[float]:
    return [p["wall_s"] for p in passes if p["kind"] == kind]


def pass_medians(
    queries: tuple[str, ...], passes: list[dict], total: str, per_query: str
) -> tuple[float, float]:
    """Median over ``passes`` of the pass key ``total``, and the geometric
    mean over ``queries`` of each query's median under the key ``per_query``."""
    by_query = [stats.median([p[per_query][q] for p in passes]) for q in queries]
    return stats.median([p[total] for p in passes]), stats.gmean(by_query)


def end_to_end(run: Run, passes: list[dict]) -> dict[str, float]:
    """CPU seconds over the first MIN_PASSES plain passes (see MIN_PASSES),
    set-up CPU seconds, peak memory and the share of executions that passed."""
    plain = [p for p in passes if p["kind"] == "plain"][:MIN_PASSES]
    pass_cpu, gmean_cpu = pass_medians(run.workload.queries, plain, "cpu_s", "query_cpu")
    return {
        "pass_cpu_s": pass_cpu,
        "query_gmean_cpu_s": gmean_cpu,
        "setup_s": run.setup["setup_cpu_s"],
        "peak_rss_mb": run.peak_rss_mb(),
        "ok_frac": 1.0 - stats.failed_frac(len(run.failures), run.attempted),
    }


def per_query(passes: list[dict]) -> dict[str, dict[str, float]]:
    """Median over the traced passes of each query's own counters, with
    its median wall over the plain (UI off) passes."""
    traced = [p for p in passes if p["kind"] == "traced"]
    plain = [p for p in passes if p["kind"] == "plain"]
    out = {}
    for q in plain[0]["queries"]:
        rows = [p["counters"][q] for p in traced if p["counters"][q] is not None]
        out[q] = {"wall_s": stats.median([p["queries"][q] for p in plain])}
        for k in _SUMMED:
            if rows:
                out[q][k] = stats.median([r[k] for r in rows])
    return out


def per_layer(run: Run, passes: list[dict]) -> dict[str, float]:
    traced = [p for p in passes if p["kind"] == "traced"]
    plain = [p for p in passes if p["kind"] == "plain"]
    per_pass = []
    for p in traced:
        rows = [c for c in p["counters"].values() if c is not None]
        tot = {k: sum(r[k] for r in rows) for k in _SUMMED}
        tot["stage.peak_exec_mem_mb"] = max((r["stage.peak_exec_mem_mb"] for r in rows), default=0.0)
        tot["stage.cpu_frac"] = tot["stage.cpu_ms"] / tot["stage.run_ms"] if tot["stage.run_ms"] else 0.0
        tot["exec.core_util"] = stats.core_util(tot["exec.run_ms"], tot["exec.s"], run.cores)
        per_pass.append(tot)
    out = {k: run.setup[k] for k in (
        "setup_wall_s", "session.start_s", "session.register_s", "session.warmup_s")}
    out["pass_s"], out["query_gmean_s"] = pass_medians(
        run.workload.queries, plain, "wall_s", "queries")
    for k in PER_LAYER:
        if per_pass and k in per_pass[0]:
            out[k] = stats.median([t[k] for t in per_pass])
    for q in ALL_QUERIES:
        in_wl = q in run.workload.queries
        out[f"q.{q}.wall_s"] = stats.median([p["queries"][q] for p in plain]) if in_wl else 0.0
    plain_s = stats.median(_walls(passes, "plain"))
    out["trace.pass_s"] = stats.median(_walls(passes, "traced"))
    out["trace.overhead_s"] = out["trace.pass_s"] - plain_s
    out["trace.ui_s"] = stats.median(_walls(passes, "ui")) - plain_s
    return out


def _layout(sf_dir: str) -> str:
    """The data layout tag ``prepare.py`` left in the data directory."""
    with open(os.path.join(sf_dir, ".done")) as f:
        return f.read().strip() + " single-file"


_TABLE_COLS = (
    ("wall_s", "wall_s", 3), ("queries.build_s", "build_s", 3),
    ("queries.eager_s", "eager_s", 3), ("queries.eager_jobs", "eager_j", 0),
    ("plans.catalyst_s", "catalyst", 3), ("exec.s", "exec_s", 3),
    ("exec.jobs", "jobs", 0), ("exec.stages", "stages", 0), ("exec.tasks", "tasks", 0),
    ("plans.exchanges", "exch", 0), ("plans.python_nodes", "py_nodes", 0),
    ("python.total_ms", "py_ms", 0), ("stage.shuffle_write_mb", "shuf_mb", 2),
)


def _layer_table(layers: dict[str, dict[str, float]]) -> str:
    """Per-query layer split: walls from the plain passes, the rest are
    medians over the traced passes; ``path`` is the gate path taken."""
    head = "".join(f"{short:>10s}" for _, short, _ in _TABLE_COLS)
    lines = [f"layers {'query':24s}{head}      path"]
    for q, row in layers.items():
        cells = "".join(f"{row.get(k, float('nan')):10.{d}f}" for k, _, d in _TABLE_COLS)
        path = "python" if row.get("plans.python_nodes") else "jvm"
        lines.append(f"layers {q:24s}{cells}  {path:>8s}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    workload = WORKLOADS[args.workload]
    if args.queries:
        workload = dataclasses.replace(workload, queries=tuple(args.queries.split(",")))
    sf = args.sf if args.sf is not None else workload.sf
    cores = len(os.sched_getaffinity(0))
    mem_gb = driver_mem_gb()
    dirs = configure_env(cores, mem_gb)
    try:
        import duckdb
        import pyspark

        from perfbench.oracle import OracleCache
    except ImportError as exc:
        print(f"perfbench: cannot import the engine or its toolchain: {exc}", file=sys.stderr)
        return 2
    try:
        from datafusion_parallelism_spark.queries import REGISTRY
    except ImportError as exc:
        print(f"perfbench: engine package not found next to perfbench/: {exc}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - _T0

    unknown = [q for q in workload.queries if q not in REGISTRY]
    if unknown:
        print(f"perfbench: unknown queries {unknown}", file=sys.stderr)
        return 2

    steal0 = proc.host_steal()
    t = time.perf_counter()
    sf_dir = os.path.join(CACHE, "data", f"sf{sf:g}")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "prepare.py"), "--out", sf_dir,
         "--sf", str(sf), "--seed", str(DATA_SEED), "--cores", str(cores),
         "--queries", ",".join(workload.queries)],
        check=True, stdout=sys.stderr,
    )
    oracle = OracleCache(sf_dir, cores)
    data_s = time.perf_counter() - t

    run = Run(args, workload, sf_dir, oracle, cores, dirs)
    try:
        with run.span("workload", workload=workload.name, seed=args.seed):
            run.start()
            run.warmup()
            run.setup["setup_wall_s"] = import_s + sum(run.setup.values())
            run.setup["setup_cpu_s"] = run.cpu_s(jit=True)
            if args.trace:
                passes = run.measure(args.seconds / 2, alternate=False)
                run.restart_traced()
                passes += run.measure(args.seconds / 2, alternate=True)
            else:
                passes = run.measure(args.seconds, alternate=False)
        layers = None
        if args.trace:
            metrics = per_layer(run, passes)
            layers = per_query(passes)
            spans = os.path.join(dirs["spans"], f"{workload.name}-seed{args.seed}.jsonl")
            run.tracer.write(spans)
        else:
            metrics = end_to_end(run, passes)
            spans = None
        record = {
            "workload": workload.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": cores,
            "driver_memory": f"{mem_gb}g",
            "spark_version": run.spark.version,
            "pyspark_version": pyspark.__version__,
            "duckdb_version": duckdb.__version__,
            "data_dir": os.path.relpath(sf_dir, ROOT),
            "data_mb": run.session.dir_size(sf_dir) / 1e6,
            "layout": _layout(sf_dir),
            "data_s": data_s,
            "setup": run.setup,
            "passes": [
                {k: p[k] for k in ("kind", "wall_s", "cpu_s", "queries", "query_cpu")}
                for p in passes
            ],
            "per_query": layers,
            "oracle": run.oracle_results,
            "failures": run.failures,
            "spans": spans and os.path.relpath(spans, ROOT),
        }
    finally:
        run.stop()
    record["host_steal_frac"] = proc.steal_frac(steal0, proc.host_steal())

    for name, value in metrics.items():
        print(f"{name:32s} {value:14.6f} {UNITS[name]}")
    if layers:
        print(_layer_table(layers))
    for q, res in run.oracle_results.items():
        print(f"oracle {q:24s} {res}")
    for f in run.failures:
        print(f"FAILED {f['query']} ({f['phase']}): {f['detail']}")
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
