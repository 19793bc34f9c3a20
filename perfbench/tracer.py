"""In-memory spans and per-layer counters for the traced run.

Spans are recorded in the benchmark's own code, around each call into a
layer of the engine: workload -> session / pass -> query -> build /
catalyst / execute.  Counters come from three places:

* job ids: the DAG scheduler's job-id allocator, read before and after the
  build and the execute.  It counts every job, including broadcast-exchange
  jobs that run under their own job group on the exchange thread pool,
  which ``setJobGroup``-based attribution misses;
* the live UI's REST API: per-job stage/task counts and submit/complete
  times, ``metrics.stage_metrics`` stage rows, and the Python worker
  metrics (``PythonSQLMetrics``) of each SQL execution;
* the executed physical plan: exchange, broadcast and Python node counts.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from . import stats

#: Confs the traced session adds: the REST API needs the UI, and a run
#: must not age out the jobs, stages and executions it reads back.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class TraceError(RuntimeError):
    """The traced run's job attribution or counters are broken."""


_PY_METRICS = {
    "time to run Python workers": ("python.total_ms", 1.0),
    "time to start Python workers": ("python.boot_ms", 1.0),
    "data sent to Python workers": ("python.data_sent_mb", 1e-6),
    "data returned from Python workers": ("python.data_received_mb", 1e-6),
}

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]+)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def plan_counts(tree: str) -> dict[str, int]:
    """Exchange, broadcast and Python-worker node counts of a plan tree."""
    out = {"plans.exchanges": 0, "plans.broadcasts": 0, "plans.python_nodes": 0}
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m is None:
            continue
        node = m.group(1)
        if node == "Exchange":
            out["plans.exchanges"] += 1
        elif node == "BroadcastExchange":
            out["plans.broadcasts"] += 1
        elif _PYTHON_NODE.search(node):
            out["plans.python_nodes"] += 1
    return out


def _epoch(rest_time: str) -> float:
    return datetime.strptime(
        rest_time.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


class Tracer:
    """Span recorder plus the Spark probes of one traced session."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None
        self._sc = None
        self._api = None
        self._sql_seen = 0

    def attach(self, spark) -> None:
        """Point the probes at a started session (spans may precede it)."""
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        base = spark.sparkContext.uiWebUrl
        if base:
            app_id = self._get(f"{base}/api/v1/applications")[0]["id"]
            self._api = f"{base}/api/v1/applications/{app_id}"

    @contextmanager
    def span(self, name: str, q: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "q": q if q is not None else (parent["q"] if parent else None),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        selfs = stats.self_times([s for s in self.spans if s["end"] is not None])
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs.get(s["id"])}) + "\n")

    # -- Spark probes ---------------------------------------------------

    @staticmethod
    def _get(url: str):
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def job_high_water(self) -> int:
        """Number of jobs ever submitted (the next job id)."""
        return self._sc.dagScheduler().numTotalJobs()

    def query(self, name: str, build, execute) -> dict[str, float]:
        """Build and execute one query under spans; return its counters.

        Raises if the execute launched no Spark job (every query executes
        at least one, so zero means the attribution is broken), or if the
        plan has Python nodes but no Python worker metric was found."""
        if self._api is None:
            raise TraceError("traced session has no UI; REST counters unavailable")
        with self.span("query", q=name) as qs:
            j0 = self.job_high_water()
            with self.span("build") as b:
                df = build()
            j1 = self.job_high_water()
            with self.span("catalyst") as c:
                tree = df._jdf.queryExecution().executedPlan().treeString()
            with self.span("execute") as e:
                execute(df)
            j2 = self.job_high_water()
            if j2 == j1:
                raise TraceError(f"{name} executed but launched no Spark job")
            with self.span("counters"):
                out, py_seen = self._counters(range(j0, j1), range(j1, j2))
        build_s = b["end"] - b["start"]
        out["queries.build_s"] = build_s
        out["queries.eager_jobs"] = j1 - j0
        out["queries.eager_s"] = min(out["queries.eager_s"], build_s)
        out["queries.analyze_s"] = build_s - out["queries.eager_s"]
        out["plans.catalyst_s"] = c["end"] - c["start"]
        out.update(plan_counts(tree))
        out["exec.s"] = e["end"] - e["start"]
        out["exec.jobs"] = j2 - j1
        b.update(jobs=j1 - j0, eager_s=out["queries.eager_s"])
        c.update({k: v for k, v in out.items() if k.startswith("plans.")})
        e.update(jobs=j2 - j1, stages=out["exec.stages"], tasks=out["exec.tasks"])
        if out["plans.python_nodes"] and not py_seen:
            raise TraceError(
                f"{name} runs Python nodes but no SQL metric named one of "
                f"{sorted(_PY_METRICS)}; the metric names may have changed"
            )
        qs["counters"] = out
        return out

    def _counters(self, build_jobs: range, exec_jobs: range) -> tuple[dict[str, float], int]:
        """Counters of the given jobs, and how many Python worker metrics
        their SQL executions reported."""
        from datafusion_parallelism_spark.metrics import stage_metrics, totals

        self._sc.listenerBus().waitUntilEmpty()
        jobs = {j["jobId"]: j for j in self._get(f"{self._api}/jobs")}
        missing = [j for j in (*build_jobs, *exec_jobs) if j not in jobs]
        if missing:
            raise TraceError(f"jobs {missing} missing from the UI store")
        out: dict[str, float] = {}
        out["queries.eager_s"] = stats.union_length(
            (_epoch(jobs[j]["submissionTime"]), _epoch(jobs[j]["completionTime"]))
            for j in build_jobs
        )
        out["exec.stages"] = sum(jobs[j]["numCompletedStages"] for j in exec_jobs)
        out["exec.tasks"] = sum(jobs[j]["numCompletedTasks"] for j in exec_jobs)
        out["exec.failed_tasks"] = sum(jobs[j]["numFailedTasks"] for j in exec_jobs)

        rows = stage_metrics(self.spark)
        all_stages = {s for j in (*build_jobs, *exec_jobs) for s in jobs[j]["stageIds"]}
        exec_stages = {s for j in exec_jobs for s in jobs[j]["stageIds"]}
        mine = [rows[s] for s in all_stages if s in rows]
        out.update({f"stage.{k}": v for k, v in totals(mine).items()})
        out["stage.peak_exec_mem_mb"] = max((r["peak_exec_mem_mb"] for r in mine), default=0.0)
        out["exec.run_ms"] = sum(rows[s]["run_ms"] for s in exec_stages if s in rows)

        for key, _ in _PY_METRICS.values():
            out[key] = 0.0
        py_seen = 0
        job_ids = set(build_jobs) | set(exec_jobs)
        execs = self._get(
            f"{self._api}/sql?details=true&planDescription=false"
            f"&offset={self._sql_seen}&length=1000000"
        )
        self._sql_seen += len(execs)
        for ex in execs:
            if not job_ids.intersection(ex["successJobIds"] + ex["failedJobIds"]):
                continue
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] in _PY_METRICS:
                        key, scale = _PY_METRICS[m["name"]]
                        out[key] += stats.parse_sql_metric(m["value"]) * scale
                        py_seen += 1
        return out, py_seen
