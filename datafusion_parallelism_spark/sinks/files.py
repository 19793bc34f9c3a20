"""File sinks.

Parity target: the reference writes each benchmark query's first-iteration
result to ``q{n}.csv`` (``tpc/src/main.rs:372-377`` ``write_csv``) and a
JSON results file (``:272-278``).

Scale posture: sinks write DISTRIBUTED by default (one file per partition —
the only shape that works at 100 TB).  ``single_file=True`` coalesces to
one partition for small result sets (benchmark artifacts, < a few GB);
results of big queries should never set it.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame

#: pid -> the staging dirs that process registered with remove_at_exit.
_STAGED: dict[int, set[str]] = {}


def remove_at_exit(path: str) -> str:
    """Register ``path``, a staging directory this process writes, for
    removal when the process exits, and return it.

    A query that writes a staged table returns a DataFrame that reads it
    lazily, so the directory must outlive the call that wrote it; exit is
    the first point at which no such DataFrame can still run.  One hook
    per process removes only that process's directories: a forked child
    inherits the parent's hook, which does nothing there."""
    pid = os.getpid()
    if pid not in _STAGED:
        _STAGED[pid] = set()
        atexit.register(_remove_staged, pid)
    _STAGED[pid].add(path)
    return path


def _remove_staged(pid: int) -> None:
    if os.getpid() == pid:
        for path in _STAGED[pid]:
            shutil.rmtree(path, ignore_errors=True)


def _prep(df: DataFrame, single_file: bool) -> DataFrame:
    return df.coalesce(1) if single_file else df


def write_csv(
    df: DataFrame,
    path: str,
    single_file: bool = False,
    options: dict[str, str] | None = None,
) -> None:
    """CSV sink with header, overwrite semantics (tpc/src/main.rs:372-377).

    ``options`` passes through writer options (e.g. an explicit
    ``nullValue`` sentinel so NULL and '' stay distinguishable on re-read —
    CSV's default maps both to the empty field)."""
    w = _prep(df, single_file).write.mode("overwrite").option("header", "true")
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.csv(path)


def write_json(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-lines sink, overwrite semantics."""
    _prep(df, single_file).write.mode("overwrite").json(path)
