"""Executor-side stage metrics: the engine's runtime instrumentation surface.

Parity note: the reference's operators implement DataFusion's
``ExecutionPlan::metrics()`` (``src/utils/static_table.rs:215``,
``src/bin/main.rs:302`` return ``MetricsSet``) — per-operator counters
readable after execution.  Spark's equivalents live in two places:

* :class:`pyspark.sql.Observation` — per-query aggregates collected during
  execution with no second data pass (tests/test_observability.py);
* the per-STAGE executor metrics (shuffle bytes/rows, spill, GC, peak
  execution memory) this module reads from the live UI's REST API — the
  AppStatusStore has no stable py4j surface, so the REST endpoint is the
  documented way to them.

The stage metrics are what settle scale questions walls cannot: the r9
join_inner_chain investigation found its "super-linear" x128→x256 leg was
an AQE-coalesce spill cliff purely from these rows — spill was the only
metric that flipped between the factors (BASELINE.md §Round 9,
docs/decomp_chain_r9.jsonl).  Wall clocks on a shared box drift ±20-70%;
task-time and byte counters do not.

The stage reader requires a session built with ``spark.ui.enabled=true``
(the measurement harnesses pass it; the default session keeps the UI off
to avoid the listener-bus overhead on MB-scale runs).  It returns ``{}``
when the UI is off rather than failing, so callers can attach metrics
opportunistically.  :func:`codegen_compiles` and :func:`jobs_submitted`
read JVM counters instead, and :func:`python_worker_cpu` reads ``/proc``;
they work in any session.
"""

from __future__ import annotations

import json
import os
import urllib.request

from pyspark.sql import SparkSession

#: StageData fields surfaced, REST name → short name.  MB fields keep
#: 3 decimals (KB resolution — correctness-scale stages shuffle KBs);
#: times are ms.
_FIELDS = (
    ("executorRunTime", "run_ms", 1),
    ("executorCpuTime", "cpu_ms", 1_000_000),  # reported in ns
    ("jvmGcTime", "gc_ms", 1),
    ("shuffleWriteBytes", "shuffle_write_mb", 1e6),
    ("shuffleReadBytes", "shuffle_read_mb", 1e6),
    ("shuffleWriteRecords", "shuffle_write_rows", 1),
    ("memoryBytesSpilled", "spill_mem_mb", 1e6),
    ("diskBytesSpilled", "spill_disk_mb", 1e6),
    ("inputBytes", "input_mb", 1e6),
    ("peakExecutionMemory", "peak_exec_mem_mb", 1e6),
)


def stage_metrics(spark: SparkSession, timeout: float = 10.0) -> dict[int, dict]:
    """Completed-stage executor metrics, ``{stageId: {field: value}}``.

    One row per completed Spark stage since the context started; callers
    doing per-query attribution snapshot the id set between queries (see
    ``perfbench/tracer.py``).
    """
    base = spark.sparkContext.uiWebUrl
    if not base:
        return {}
    with urllib.request.urlopen(
        f"{base}/api/v1/applications", timeout=timeout
    ) as r:
        app_id = json.load(r)[0]["id"]
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=timeout) as r:
        stages = json.load(r)
    out: dict[int, dict] = {}
    # The REST endpoint returns one StageData per ATTEMPT; a retried stage
    # appears multiple times under the same stageId.  Keep the
    # highest-attempt row (the one that completed the stage) instead of
    # letting whichever attempt the server listed last win, and note the
    # retry so totals() consumers know earlier attempts' work is excluded.
    seen_attempt: dict[int, int] = {}
    for s in stages:
        sid = s["stageId"]
        attempt = s.get("attemptId", 0)
        if sid in seen_attempt:
            out[sid]["retried"] = True
            if attempt <= seen_attempt[sid]:
                continue
        seen_attempt[sid] = attempt
        row = out.get(sid, {})
        row.update(
            name=s.get("name", "").split("\n")[0][:60],
            tasks=s.get("numCompleteTasks", 0),
        )
        for rest_name, short, divisor in _FIELDS:
            # .get: a field absent from a REST row (version drift, pruned
            # detail) degrades to 0 rather than aborting the whole read.
            v = s.get(rest_name, 0) / divisor
            row[short] = round(v, 3) if divisor > 1 else int(v)
        out[sid] = row
    return out


#: Additive fields safe to sum across stages.
SUMMABLE = (
    "run_ms",
    "cpu_ms",
    "gc_ms",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mem_mb",
    "spill_disk_mb",
    "input_mb",
)


def totals(rows: dict[int, dict] | list[dict]) -> dict[str, float]:
    """Sum the additive fields over stage rows (peak memory is a max, not
    a sum, and is deliberately excluded)."""
    vals = rows.values() if isinstance(rows, dict) else rows
    vals = list(vals)
    return {m: round(sum(v[m] for v in vals), 3) for m in SUMMABLE}


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far.

    The count of Spark's ``CodegenMetrics`` compilation-time histogram,
    read over py4j: a static JVM counter, so it works with the UI off,
    unlike :func:`stage_metrics`.  A class served from the compiled-class
    cache does not count, so the delta over a warm pass is the number of
    recompiles that pass paid.
    """
    source = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def jobs_submitted(spark: SparkSession) -> int:
    """Spark jobs this context has submitted so far (the next job id).

    The DAG scheduler's ``numTotalJobs`` high-water mark, read over py4j,
    so like :func:`codegen_compiles` it works with the UI off; the delta
    over a pass is the jobs that pass launched.
    """
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _proc_stats() -> dict[int, tuple[int, int, int]]:
    """``pid -> (ppid, start time, CPU ticks)`` of every live process, the
    ticks being its own and its waited-for children's user + system time."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                line = f.read()
        except OSError:  # exited between the listing and the read
            continue
        # The command name may hold spaces and parentheses: split after
        # its last ")", where field 3 (state) is index 0.
        fields = line.rpartition(")")[2].split()
        out[int(name)] = (int(fields[1]), int(fields[19]), sum(map(int, fields[11:15])))
    return out


def python_worker_cpu(spark: SparkSession) -> dict[tuple[int, int], float]:
    """CPU seconds used so far by each live descendant of the JVM (the
    Python worker daemon and its workers), keyed by (pid, start time).
    Read from ``/proc``, so it works with the UI off."""
    jvm = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tick = os.sysconf("SC_CLK_TCK")
    out, todo = {}, list(children.get(jvm, ()))
    while todo:
        pid = todo.pop()
        out[pid, stats[pid][1]] = stats[pid][2] / tick
        todo.extend(children.get(pid, ()))
    return out


def python_worker_cpu_s(before: dict, after: dict) -> float:
    """Python worker CPU seconds between two :func:`python_worker_cpu`
    snapshots: each process alive at ``after`` counts from its value at
    ``before``, or from 0 if it started since.  The daemon ignores
    ``SIGCHLD``, so a worker that exits in the span (Spark stops one idle
    for a minute) takes its CPU with it: an undercount, never negative."""
    return sum(t - before.get(key, 0.0) for key, t in after.items())
