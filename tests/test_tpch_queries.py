"""TPC-H-class corpus vs the DuckDB oracle (reference benchmark surface,
tpc/src/main.rs:290-384 — see queries/tpch.py for adaptations)."""

import re

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import register_tables
from datafusion_parallelism_spark.testing import compare_to_oracle

TPCH_QUERIES = sorted(n for n in REGISTRY if n.startswith("tpch_"))

#: The only query whose Spark text differs from its oracle text (see its
#: docstring): the oracle is the EXISTS / NOT EXISTS reference form.
TWO_TEXTS = {"tpch_q21"}


def _analyzed_text(df) -> str:
    """Analyzed plan with expression ids stripped and CTE ids renumbered
    by first appearance, so two analyses of one text compare equal."""
    text = re.sub(r"#\d+L?", "", df._jdf.queryExecution().analyzed().toString())
    ctes: dict[str, int] = {}
    return re.sub(
        r"(CTERelation(?:Def|Ref)) (\d+)",
        lambda m: f"{m[1]} {ctes.setdefault(m[2], len(ctes))}",
        text,
    )


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_tpch_query_matches_oracle(spark, sf_dir_oracle, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir_oracle)
    assert spec.oracle is not None
    if name not in TWO_TEXTS:
        # One text per query: the registered query IS spark.sql(oracle).
        register_tables(spark, sf_dir_oracle)
        assert _analyzed_text(df) == _analyzed_text(spark.sql(spec.oracle)), (
            f"{name}: registered plan differs from spark.sql(oracle)"
        )
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, f"{name}: {detail}"
