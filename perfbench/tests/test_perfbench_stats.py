"""The benchmark's own arithmetic: medians, means, failure accounting,
core utilisation, span self time, process CPU time and the parsers of
Spark's counters."""

import math
import os
import time
from types import SimpleNamespace

import pytest

from perfbench import proc, stats
from perfbench.run import MIN_PASSES, end_to_end, per_layer, per_query
from perfbench.tracer import plan_counts
from perfbench.workloads import ALL_QUERIES


def test_median_odd_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_gmean():
    assert stats.gmean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.gmean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    # A small query is not swamped by a big one, unlike the arithmetic mean.
    assert stats.gmean([0.01, 100.0]) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.gmean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.gmean([])


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 9.9, 11.1]
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
    assert stats.quartile_spread([5.0] * 4) == 0.0


def test_failed_frac_accounting():
    assert stats.failed_frac(0, 20) == 0.0
    assert stats.failed_frac(1, 4) == 0.25
    assert stats.failed_frac(3, 3) == 1.0
    for failed, attempted in ((1, 0), (-1, 5), (6, 5)):
        with pytest.raises(ValueError):
            stats.failed_frac(failed, attempted)


def test_core_util():
    # 4 cores busy for 2 s of a 2 s interval: fully used.
    assert stats.core_util(8000.0, 2.0, 4) == pytest.approx(1.0)
    assert stats.core_util(2000.0, 2.0, 4) == pytest.approx(0.25)
    assert stats.core_util(100.0, 0.0, 4) == 0.0


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3)]) == 3.0
    assert stats.union_length([(0, 4), (1, 2), (3, 5)]) == 5.0


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_times():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: covered once
        _span(3, 1, 1.5, 2.0),  # grandchild: only its parent loses it
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


@pytest.mark.parametrize(
    "text,want",
    [
        ("2.6 s", 2600.0),
        ("735 ms", 735.0),
        ("1.5 m", 90_000.0),
        ("56.3 KiB", 56.3 * 1024),
        ("2.0 MiB", 2.0 * 1024**2),
        ("2,048", 2048.0),
        ("total (min, med, max (stageId: taskId))\n4.0 s (472 ms, 1.2 s, 1.3 s (stage 23.0: task 44))", 4000.0),
        ("total (min, med, max (stageId: taskId))\n430.0 KiB (98.3 KiB, 110.6 KiB)", 430.0 * 1024),
    ],
)
def test_parse_sql_metric(text, want):
    assert stats.parse_sql_metric(text) == pytest.approx(want)


def test_parse_sql_metric_rejects_unknown():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("3 parsecs")
    with pytest.raises(ValueError):
        stats.parse_sql_metric("n/a")


def test_plan_counts():
    tree = """*(7) HashAggregate(keys=[n_name#38], functions=[sum(x)])
+- Exchange hashpartitioning(n_name#38, 4), ENSURE_REQUIREMENTS, [plan_id=266]
   +- *(6) BroadcastHashJoin [a#1], [b#2], Inner, BuildRight, false
      :- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false)
      :  +- MapInArrow kernel(vec_id#86L)#114, [vec_id#115L], false
      +- ReusedExchange [a#1], Exchange hashpartitioning(a#1, 4)
         +- ArrowEvalPython [f(x#1)#3], [pythonUDF0#4], 200
"""
    assert plan_counts(tree) == {
        "plans.exchanges": 1,
        "plans.broadcasts": 1,
        "plans.python_nodes": 2,
    }


def _counters(**over):
    base = {k: 0.0 for k in (
        "queries.build_s", "queries.eager_jobs", "queries.eager_s", "queries.analyze_s",
        "plans.catalyst_s", "plans.exchanges", "plans.broadcasts", "plans.python_nodes",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks",
        "exec.run_ms", "stage.run_ms", "stage.cpu_ms", "stage.gc_ms", "stage.input_mb",
        "stage.shuffle_write_mb", "stage.shuffle_read_mb", "stage.spill_mem_mb",
        "stage.spill_disk_mb", "stage.peak_exec_mem_mb", "python.total_ms",
        "python.boot_ms", "python.data_sent_mb", "python.data_received_mb",
    )}
    base.update(over)
    return base


def test_per_layer_aggregates_per_pass():
    run = SimpleNamespace(
        cores=2,
        workload=SimpleNamespace(queries=("tpch_q1", "tpch_q5")),
        setup={"setup_wall_s": 6.5, "session.start_s": 1.0, "session.register_s": 2.0,
               "session.warmup_s": 3.0},
    )
    plain = {"kind": "plain", "counters": None}
    traced = {
        "kind": "traced",
        "wall_s": 5.0,
        "queries": {"tpch_q1": 2.5, "tpch_q5": 2.5},
        "counters": {
            "tpch_q1": _counters(**{"exec.s": 1.0, "exec.run_ms": 1000.0, "stage.run_ms": 1000.0,
                                    "stage.cpu_ms": 500.0, "stage.peak_exec_mem_mb": 7.0}),
            "tpch_q5": _counters(**{"exec.s": 1.0, "exec.run_ms": 2000.0, "stage.run_ms": 3000.0,
                                    "stage.cpu_ms": 1500.0, "stage.peak_exec_mem_mb": 3.0}),
        },
    }
    ui = {"kind": "ui", "counters": None, "queries": {"tpch_q1": 9.0, "tpch_q5": 9.0}}
    passes = [
        {**plain, "wall_s": 4.0, "queries": {"tpch_q1": 1.0, "tpch_q5": 3.0}},
        {**plain, "wall_s": 6.0, "queries": {"tpch_q1": 2.0, "tpch_q5": 4.0}},
        {**ui, "wall_s": 4.5},
        traced,
        {**ui, "wall_s": 5.5},
    ]
    out = per_layer(run, passes)
    assert out["session.register_s"] == 2.0
    assert out["setup_wall_s"] == 6.5
    # Walls of the plain passes only: median pass, gmean of query medians.
    assert out["pass_s"] == pytest.approx(5.0)
    assert out["query_gmean_s"] == pytest.approx(math.sqrt(1.5 * 3.5))
    assert out["exec.s"] == 2.0
    assert out["stage.run_ms"] == 4000.0
    assert out["stage.cpu_frac"] == pytest.approx(0.5)
    assert out["stage.peak_exec_mem_mb"] == 7.0  # a max, not a sum
    # 3000 ms of task time over 2 s of execute wall on 2 cores.
    assert out["exec.core_util"] == pytest.approx(0.75)
    assert out["q.tpch_q1.wall_s"] == pytest.approx(1.5)
    assert out["q.tpch_q5.wall_s"] == pytest.approx(3.5)
    others = [q for q in ALL_QUERIES if q not in run.workload.queries]
    assert others and all(out[f"q.{q}.wall_s"] == 0.0 for q in others)
    assert out["trace.pass_s"] == 5.0
    # Both against the plain (UI off) passes: the UI alone costs nothing
    # here and tracing costs nothing on top of it.
    assert out["trace.overhead_s"] == pytest.approx(0.0)
    assert out["trace.ui_s"] == pytest.approx(0.0)
    assert all(math.isfinite(v) for v in out.values())


def test_per_query_walls_from_plain_counters_from_traced():
    plain = {"kind": "plain", "counters": None}
    passes = [
        {**plain, "wall_s": 2.0, "queries": {"tpch_q1": 1.0}},
        {**plain, "wall_s": 4.0, "queries": {"tpch_q1": 3.0}},
        {"kind": "ui", "wall_s": 9.0, "queries": {"tpch_q1": 9.0}, "counters": None},
        {"kind": "traced", "wall_s": 9.0, "queries": {"tpch_q1": 9.0},
         "counters": {"tpch_q1": _counters(**{"exec.jobs": 2.0})}},
        {"kind": "traced", "wall_s": 9.0, "queries": {"tpch_q1": 9.0},
         "counters": {"tpch_q1": _counters(**{"exec.jobs": 4.0})}},
    ]
    row = per_query(passes)["tpch_q1"]
    assert row["wall_s"] == pytest.approx(2.0)
    assert row["exec.jobs"] == pytest.approx(3.0)


def test_end_to_end_cpu_over_the_first_passes_only():
    """The CPU metrics use the first MIN_PASSES plain passes whatever the
    number of passes the window held, so a fast host's extra (warmer,
    cheaper) passes do not lower them."""
    run = SimpleNamespace(
        workload=SimpleNamespace(queries=("tpch_q1", "tpch_q5")),
        setup={"setup_cpu_s": 40.0},
        failures=[{"query": "tpch_q5"}],
        attempted=8,
        peak_rss_mb=lambda: 900.0,
    )
    assert MIN_PASSES == 3
    cpu = [(9.0, 1.0, 8.0), (6.0, 2.0, 4.0), (3.0, 0.5, 2.5), (1.0, 0.25, 0.75), (1.0, 0.25, 0.75)]
    passes = [
        {"kind": "plain", "wall_s": 1.0, "cpu_s": c,
         "queries": {"tpch_q1": 1.0, "tpch_q5": 1.0},
         "query_cpu": {"tpch_q1": a, "tpch_q5": b}}
        for c, a, b in cpu
    ]
    out = end_to_end(run, passes)
    assert out["pass_cpu_s"] == 6.0
    assert out["query_gmean_cpu_s"] == pytest.approx(math.sqrt(1.0 * 4.0))
    assert out["setup_s"] == 40.0
    assert out["peak_rss_mb"] == 900.0
    assert out["ok_frac"] == pytest.approx(1 - 1 / 8)
    assert end_to_end(run, passes[:3]) == out


def test_parse_proc_stat():
    # The command name may hold spaces and parentheses.
    line = ("4242 (java (C2) x) S 4200 4242 4200 0 -1 4194560 100 0 0 0 "
            "150 25 7 3 20 0 40 0 123 0 0")
    assert proc.parse_stat(line) == (4242, 4200, 150 + 25, 7 + 3)
    with open("/proc/self/stat") as f:
        pid, ppid, own, waited = proc.parse_stat(f.read())
    assert (pid, ppid) == (os.getpid(), os.getppid()) and own >= 0 and waited >= 0


def test_thread_ticks_picks_threads_by_name():
    end = time.process_time() + 0.2
    while time.process_time() < end:
        pass  # burn CPU on this thread so it has ticks to count
    with open("/proc/self/comm") as f:
        comm = f.read().strip()  # the main thread's name
    with open("/proc/self/stat") as f:
        process_own = proc.parse_stat(f.read())[2]
    ticks = proc.thread_ticks(os.getpid(), (comm,))
    assert 0 < ticks <= process_own
    assert proc.thread_ticks(os.getpid(), ("no such thread name",)) == 0


def test_tree_ticks_sums_live_descendants():
    stats_ = {
        1: (0, 1000),  # not in the tree
        10: (1, 5),  # root
        11: (10, 7),  # child
        12: (11, 11),  # grandchild
        13: (1, 13),  # sibling of the root
    }
    assert proc.tree_ticks(stats_, 10) == 5 + 7 + 11
    assert proc.tree_ticks(stats_, 12) == 11
    assert proc.tree_ticks(stats_, 99) == 0


def test_steal_frac():
    assert proc.steal_frac((10, 1000), (30, 1400)) == pytest.approx(20 / 400)
    assert proc.steal_frac((10, 1000), (10, 1000)) == 0.0
    steal, total = proc.host_steal()
    assert 0 <= steal <= total
