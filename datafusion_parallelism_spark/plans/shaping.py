"""Plan inspection + plan forcing.

The reference asserts *which physical join* the optimizer produced
(``get_join_type`` downcasts the plan, src/lib.rs:728-753; asserts at
:357-358, :422-423, :487, :563-565) and forces shapes via injected
statistics (src/lib.rs:526-547) and a ``replacement_required`` mode
(use_parallel_hash_join_rule.rs:62-64).  The Spark-native equivalents:

* inspection — parse ``explain('formatted')`` / executedPlan strings for
  join node kinds, scan ``PushedFilters`` and ``ReadSchema``;
* forcing — session configs (``autoBroadcastJoinThreshold``,
  ``preferSortMergeJoin``) and join hints, applied temporarily by
  :func:`forced_join_strategy`.

These helpers are how tests/test_plan_shapes.py pins optimizer behavior
(EXISTS → LeftSemi, outer-join elimination, broadcast vs shuffled-hash,
pushdown, pruning, codegen) the way the reference's integration tests do.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """explain() output as a string (what df.explain prints)."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def physical_plan_str(df: DataFrame) -> str:
    """Executed (post-AQE-prep) physical plan tree as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


_JOIN_OPS = (
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
#: Most-specific first; "Inner" last so it can't shadow the others.
_JOIN_TYPES = (
    "FullOuter",
    "LeftOuter",
    "RightOuter",
    "LeftSemi",
    "LeftAnti",
    "ExistenceJoin",
    "Cross",
    "Inner",
)


def join_kinds(df: DataFrame) -> list[tuple[str, str]]:
    """All (physical join operator, join type) pairs in the plan, e.g.
    ``[("BroadcastHashJoin", "LeftSemi")]`` — the analog of the
    reference's ``get_join_type``.  Plan lines look like
    ``BroadcastHashJoin [k1], [k2], LeftSemi, BuildRight, ...``."""
    out = []
    for line in physical_plan_str(df).splitlines():
        op = next((o for o in _JOIN_OPS if re.search(rf"\b{o}\b", line)), None)
        if op:
            jt = next((t for t in _JOIN_TYPES if re.search(rf"\b{t}\b", line)), "")
            out.append((op, jt))
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    """Every scan's PushedFilters list (flattened)."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_str(df)):
        out.extend(f.strip() for f in m.group(1).split(",") if f.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ReadSchema struct string — proves column pruning
    reached the parquet reader."""
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", explain_str(df))


@contextmanager
def forced_join_strategy(spark: SparkSession, strategy: str):
    """Temporarily pin the equi-join strategy for plan-shape tests.

    ``broadcast`` — default thresholds (dims under 10 MB broadcast);
    ``sort_merge`` — broadcast disabled, SMJ preferred.

    Shuffled-hash (the reference's ``PartitionMode::Partitioned`` subject)
    cannot be forced by conf alone: with ``autoBroadcastJoinThreshold=-1``
    the planner's can-build-local-hash-map size check always fails and it
    falls back to SMJ.  Force it with a hint instead —
    ``df.hint("shuffle_hash")`` — which overrides size-based selection the
    way the reference's ``replacement_required`` mode does
    (use_parallel_hash_join_rule.rs:62-64).
    """
    conf = spark.conf
    keys = ["spark.sql.autoBroadcastJoinThreshold", "spark.sql.join.preferSortMergeJoin"]
    saved = {k: conf.get(k) for k in keys}
    try:
        if strategy == "broadcast":
            conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        elif strategy == "sort_merge":
            conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            conf.set("spark.sql.join.preferSortMergeJoin", "true")
        else:
            raise ValueError(f"unknown strategy {strategy!r}")
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def checkpoint_pinned(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint that actually PRESERVES the checkpointed
    plan's partitioning/ordering metadata at every scale.

    ``Dataset.localCheckpoint`` copies ``executedPlan.outputPartitioning``
    / ``outputOrdering`` into the resulting LogicalRDD — but when the
    executed plan is an ``AdaptiveSparkPlanExec`` (AQE on, i.e. the
    at-scale posture of ``benchmark_session``), both read back as
    Unknown/Nil, so every downstream consumer re-exchanges AND re-sorts
    the checkpointed table.  Round 10 measured the consequence: pagerank
    re-shuffled and re-sorted its loop-invariant |E|-row edge table every
    iteration at the x256 replica (139 GB of sort spill, 45% of the
    corpus wall), and the PQ-training Sort that a sort before a plain
    localCheckpoint was believed to elide was also back under AQE — the
    r9 elision evidence was gathered on AQE-off sessions and silently did
    not transfer.

    Fix: plan this ONE checkpoint job non-adaptively.  Dataset planning
    is lazy — it happens at the first action, which for an eager
    checkpoint is inside this call — so a scoped AQE-off flip around the
    checkpoint suffices, and AQE-on consumers then honor the stored
    metadata (verified on 4.1.2: a consumer SortMergeJoin plans no
    Exchange and no Sort over the pinned side; see
    tests/test_plan_shapes.py).  The cost is that the checkpoint job
    itself runs without AQE (no runtime broadcast/skew/coalesce for the
    subtree it materializes) — callers with a heavy derivation upstream
    checkpoint twice: once ambient to truncate lineage, then pin the
    cheap scan-repartition-sort job.

    Sort within partitions by the loop's join/group key (after any
    repartition) BEFORE this call: the pinned ordering then makes every
    downstream iteration's Sort a planner no-op — EnsureRequirements
    elides the per-iteration Sort (and Exchange) of SortMergeJoin /
    SortAggregate consumers of the loop-invariant table at every scale.

    The flip is session-global for the duration of the job; engine
    sessions run one query at a time (driver/bench), and a concurrent
    planner caught in the window would merely plan non-adaptively
    (correct, possibly slower)."""
    conf = df.sparkSession.conf
    prev = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        conf.set("spark.sql.adaptive.enabled", prev)


def kernel_fits(bound: int | None, ceiling: int) -> bool:
    """The one kernel-vs-distributed size gate: True when an input of at
    most ``bound`` rows may run as a single-task Arrow kernel.

    ``bound`` is a measured count or a metadata upper bound; ``None``
    (no bound known) never fits.  ``ceiling`` is the kernel's module
    constant, read by the caller when the gate runs.  A ceiling of 0 or
    less turns the kernel off for every input, an empty one included, so
    tests can force the distributed side of any gate by patching that
    constant to 0."""
    return ceiling > 0 and bound is not None and bound <= ceiling
