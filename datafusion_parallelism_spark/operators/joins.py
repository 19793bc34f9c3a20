"""Equi hash join on a list of key-column pairs.

Parity target: the reference's ``ParallelHashJoin`` operator
(``src/operator/parallel_hash_join.rs:17-167``), whose ``on`` list of
(left expr, right expr) pairs this mirrors.  The reference's full surface
— eight join types (``probe_lookup_implementation.rs:32-75``) and residual
``JoinFilter`` conditions — runs as SQL text in ``queries/joins.py``,
checked against DuckDB; this builder serves the DataFrame-API queries,
which use inner and left-semi joins.

Spark-native mapping: ``DataFrame.join`` provides per-task hash builds
(ShuffledHashJoinExec) or broadcast builds (BroadcastHashJoinExec) — the
build-parallelism the reference implements by hand is Spark's stage/task
model.

Null semantics: Spark's ``=`` inside a join condition never matches NULLs —
identical to the reference.  (Spark's null-safe ``<=>`` exists but is
deliberately not used: the reference rejects ``null_equals_null=true``.)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """Equi hash join of ``left`` and ``right``, ``how`` = ``inner`` or
    ``left_semi``.

    ``on`` is a list of (left_col, right_col) pairs — the reference's
    ``Vec<(PhysicalExprRef, PhysicalExprRef)>`` (parallel_hash_join.rs:24)
    — joined as one conjunction of equalities.

    Scale note: no hints are applied here — Catalyst picks broadcast vs
    shuffled-hash vs sort-merge from statistics, and AQE can switch strategy
    at runtime.  Callers that know a side is small should wrap it in
    ``F.broadcast`` themselves.
    """
    cond = None
    for lcol, rcol in on:
        c = left[lcol] == right[rcol]
        cond = c if cond is None else (cond & c)
    return left.join(right, cond, how)
