"""DataFrame-vs-SQL entry-point parity.

The reference runs every query through BOTH entry points: ``parse_sql``
(src/parse_sql.rs:73-76) and the DataFrame-flavored harness; its test
matrix asserts both yield the same rows.  The TPC-H, join, analytics and
LLM corpora run each query as one SQL text shared with its oracle, and
``test_query_runs_its_oracle_text`` guards that they stay so: a query
keeps a DataFrame builder only with a reason in :data:`BUILDERS`.

``test_dataframe_and_sql_entry_points_agree`` closes the loop for
representative DataFrame-API queries: the registered DataFrame
formulation and the SAME semantics expressed as SQL (the oracle text,
which Spark's parser also accepts) must produce hash-identical results
through Catalyst.  Catches analysis/optimizer drift between the two
APIs — e.g. a DataFrame join whose key resolution diverges from the SQL
binder's.
"""

import re

import pytest
from pyspark.errors import AnalysisException, NumberFormatException
from pyspark.logger import PySparkLogger

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import register_tables
from datafusion_parallelism_spark.testing import _canon_rows

#: DataFrame-API queries whose oracle SQL is also valid Spark SQL:
#: 4-way inner join chain, EXISTS written as a left semi join, ROW_NUMBER
#: top-3 window, multi-COUNT(DISTINCT) split into joined aggregates.
PARITY = ["join_inner_chain", "join_left_semi", "window_rank_orders", "agg_count_distinct"]

#: Query modules whose queries run their oracle text unless listed in
#: BUILDERS.
SQL_FAMILIES = {"tpch", "joins", "analytics", "llm"}

#: Queries of SQL_FAMILIES that keep a DataFrame builder although Spark
#: analyzes their oracle text, each with the reason.
BUILDERS: dict[str, str] = {
    **{n: "DataFrame-API parity set (PARITY)" for n in PARITY},
    "agg_approx_distinct_users": "HLL++ sketch checked as a property against the exact count",
    "agg_heavy_hitters": "broadcast one-row total with integer cross-multiplied support",
    "agg_unpivot_measures": "melt through stack()",
    "agg_value_quantiles": "GK sketch checked as a rank property",
    "events_interval_first6h": "bucketized range-join operator",
    "events_pivot_native": "native groupBy().pivot() with explicit values",
    "join_inner_null_keys": "probe side spread to session width",
    "join_nullsafe": "probe side spread to session width",
    "join_salted_hotkey": "manual salted join; the oracle is the plain join",
    "mix_stratified_sample": "seeded rand() sample checked as a binomial band",
    "events_dow_hour_heatmap": "Spark's EXTRACT(dow) counts from 1, DuckDB's from 0",
    "events_markov_transitions": "COUNT(*) * 1.0 is DECIMAL in Spark, so ROUND differs",
    "mix_source_proportions": "COUNT(*) * 1.0 is DECIMAL in Spark, so ROUND differs",
    "scalar_try_arithmetic": "the oracle divides by zero, which ANSI Spark raises on",
    "merge_orders_cdc": "the caller of operators.merge.merge_upsert",
    "tpch_q21": "aggregate rewrite of the EXISTS / NOT EXISTS oracle",
}

SQL_FAMILY_QUERIES = sorted(
    n for n, s in REGISTRY.items() if s.fn.__module__.rsplit(".", 1)[-1] in SQL_FAMILIES
)


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


@pytest.mark.parametrize("name", sorted(set(SQL_FAMILY_QUERIES) | set(BUILDERS)))
def test_query_runs_its_oracle_text(spark, sf_dir, monkeypatch, name):
    assert name in SQL_FAMILY_QUERIES, f"{name}: BUILDERS entry is not a query of {SQL_FAMILIES}"
    spec = REGISTRY[name]
    register_tables(spark, sf_dir)
    # A DuckDB-only text is an expected failure: skip pyspark's ERROR log
    # of it, which costs ~60 ms per exception.
    monkeypatch.setattr(PySparkLogger.getLogger("SQLQueryContextLogger"), "disabled", True)
    try:
        oracle = _analyzed_text(spark.sql(spec.oracle))
    # DuckDB-only text; NumberFormatException is a DuckDB regexp flag
    # argument that Spark's analyzer casts to a group index.
    except (AnalysisException, NumberFormatException):
        pytest.skip("oracle text is DuckDB-only")
    if name not in BUILDERS:
        assert _analyzed_text(spec.fn(spark, sf_dir)) == oracle, (
            f"{name}: registered plan differs from spark.sql(oracle)"
        )


@pytest.mark.parametrize("name", PARITY)
def test_dataframe_and_sql_entry_points_agree(spark, sf_dir_oracle, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir_oracle)
    register_tables(spark, sf_dir_oracle)
    sql_df = spark.sql(spec.oracle)
    assert sorted(df.columns) == sorted(sql_df.columns)
    a = _canon_rows(list(df.columns), [tuple(r) for r in df.collect()])
    b = _canon_rows(list(sql_df.columns), [tuple(r) for r in sql_df.collect()])
    assert len(a) == len(b), f"{name}: row count {len(a)} (DF) vs {len(b)} (SQL)"
    assert a == b, f"{name}: DataFrame and spark.sql results differ"
