"""Registry of named queries with optional DuckDB oracle SQL.

The driver's correctness gate (BASELINE.md t2) runs each registered Spark
query and its oracle SQL side by side at sf0.01 and hash-matches the result
sets (order-insensitive, columns sorted by name).  Contract consequences:

* Every computed column is explicitly aliased to the SAME name on both sides.
* Double-typed aggregates are ``round()``-ed identically on both sides so
  floating-point summation order (which legitimately differs between engines
  and between Spark partitions) cannot flip the hash.
* Queries with LIMIT / top-k order by a key set that is provably total
  (ties broken by a unique id) so the cutoff row set is deterministic.
* Non-SQL-expressible operators register ``oracle=None`` → the driver
  records a weaker rows-only check (the judge sees which).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str]) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as query ``name`` with DuckDB ``oracle`` SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle)
        return fn

    return deco
