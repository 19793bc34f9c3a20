"""DataFrame-vs-SQL entry-point parity.

The reference runs every query through BOTH entry points: ``parse_sql``
(src/parse_sql.rs:73-76) and the DataFrame-flavored harness; its test
matrix asserts both yield the same rows.  TPC-H runs as SQL text (one
text per query, shared with its oracle — queries/tpch.py), so this test
closes the loop for representative DataFrame-API queries from the join
and analytics corpora: the registered DataFrame formulation and the SAME
semantics expressed as SQL (the oracle text, which Spark's parser also
accepts) must produce hash-identical results through Catalyst.  Catches
analysis/optimizer drift between the two APIs — e.g. a DataFrame join
whose key resolution diverges from the SQL binder's.
"""

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import register_tables
from datafusion_parallelism_spark.testing import _canon_rows

#: DataFrame-API queries whose oracle SQL is also valid Spark SQL:
#: 4-way inner join chain, EXISTS written as a left semi join, ROW_NUMBER
#: top-3 window, multi-COUNT(DISTINCT) split into joined aggregates.
PARITY = ["join_inner_chain", "join_left_semi", "window_rank_orders", "agg_count_distinct"]


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
