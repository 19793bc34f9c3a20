"""Property-based join-semantics fuzzing vs DuckDB.

Goes beyond the reference's test strategy (SURVEY §5.5 notes it has no
randomized testing): hypothesis generates key/value tables with nulls,
duplicates, empty sides and disjoint domains, and every example runs one
SQL text through ``spark.sql`` over temp views ``l`` and ``r`` — the way
the join corpus (queries/joins.py) runs — and checks it against DuckDB
running the same text, for a randomly chosen join type from the
reference's supported set (probe_lookup_implementation.rs:32-43).  Null
keys must never match (null_equals_null=false) and duplicate keys must
multiply rows — exactly the edge cases the reference pins with hand-built
batches (src/lib.rs:149-246).  The composite-key test also runs
``operators.joins.equi_join``, the DataFrame-API join of the inner and
left-semi cases, against the same DuckDB rows.
"""

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_parallelism_spark.operators.joins import equi_join

_ids = st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=0, max_size=8)

_SQL = {
    "inner": "SELECT l.lid, l.lv, r.rid, r.rv FROM l JOIN r ON l.lid = r.rid",
    "left": "SELECT l.lid, l.lv, r.rid, r.rv FROM l LEFT JOIN r ON l.lid = r.rid",
    "right": "SELECT l.lid, l.lv, r.rid, r.rv FROM l RIGHT JOIN r ON l.lid = r.rid",
    "full": "SELECT l.lid, l.lv, r.rid, r.rv FROM l FULL JOIN r ON l.lid = r.rid",
    "left_semi": "SELECT lid, lv FROM l WHERE EXISTS (SELECT 1 FROM r WHERE r.rid = l.lid)",
    "left_anti": "SELECT lid, lv FROM l WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.rid = l.lid)",
    "right_semi": "SELECT rid, rv FROM r WHERE EXISTS (SELECT 1 FROM l WHERE l.lid = r.rid)",
    "right_anti": "SELECT rid, rv FROM r WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.lid = r.rid)",
}


def _canon(rows):
    out = [tuple("∅" if v is None else int(v) for v in r) for r in rows]
    return sorted(out, key=repr)


def _check(spark, lpdf, rpdf, sql, label):
    """Run ``sql`` over tables ``l`` and ``r`` in Spark and in DuckDB;
    return the DuckDB rows."""
    lcols = ", ".join(f"{c} long" for c in lpdf.columns)
    rcols = ", ".join(f"{c} long" for c in rpdf.columns)
    spark.createDataFrame(lpdf, schema=lcols).createOrReplaceTempView("l")
    spark.createDataFrame(rpdf, schema=rcols).createOrReplaceTempView("r")
    got = _canon(tuple(r) for r in spark.sql(sql).collect())

    con = duckdb.connect()
    con.register("l", lpdf)
    con.register("r", rpdf)
    want = _canon(con.execute(sql).fetchall())
    assert got == want, f"{label}: spark={got} duckdb={want}"
    return want


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    lids=_ids,
    rids=_ids,
    how=st.sampled_from(tuple(_SQL)),
)
def test_equi_join_matches_duckdb(spark, lids, rids, how):
    lpdf = pd.DataFrame({"lid": pd.array(lids, dtype="Int64"),
                         "lv": pd.array(range(len(lids)), dtype="Int64")})
    rpdf = pd.DataFrame({"rid": pd.array(rids, dtype="Int64"),
                         "rv": pd.array(range(len(rids)), dtype="Int64")})
    _check(spark, lpdf, rpdf, _SQL[how], how)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(lids=_ids, rids=_ids)
def test_residual_filter_matches_duckdb(spark, lids, rids):
    """Theta/residual condition (reference JoinFilter, src/lib.rs:672-677):
    equi key plus lv != rv residual, checked for inner and full."""
    lpdf = pd.DataFrame({"lid": pd.array(lids, dtype="Int64"),
                         "lv": pd.array([i % 3 for i in range(len(lids))], dtype="Int64")})
    rpdf = pd.DataFrame({"rid": pd.array(rids, dtype="Int64"),
                         "rv": pd.array([i % 3 for i in range(len(rids))], dtype="Int64")})
    for how, sql in [
        ("inner", "SELECT l.lid, l.lv, r.rid, r.rv FROM l JOIN r ON l.lid = r.rid AND l.lv != r.rv"),
        ("full", "SELECT l.lid, l.lv, r.rid, r.rv FROM l FULL JOIN r ON l.lid = r.rid AND l.lv != r.rv"),
    ]:
        _check(spark, lpdf, rpdf, sql, how)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
@given(lids=_ids, rids=_ids, how=st.sampled_from(("inner", "left", "full", "left_semi")))
def test_multi_key_join_matches_duckdb(spark, lids, rids, how):
    """Composite-key joins (the reference's Vec<(expr, expr)> ``on`` list,
    parallel_hash_join.rs:24): both key columns must match, nulls in either
    key never match.  The inner and left-semi cases also run through
    ``equi_join``."""
    n_l, n_r = len(lids), len(rids)
    lpdf = pd.DataFrame({
        "lid": pd.array(lids, dtype="Int64"),
        "lid2": pd.array([i % 2 for i in range(n_l)], dtype="Int64"),
        "lv": pd.array(range(n_l), dtype="Int64"),
    })
    rpdf = pd.DataFrame({
        "rid": pd.array(rids, dtype="Int64"),
        "rid2": pd.array([i % 2 for i in range(n_r)], dtype="Int64"),
        "rv": pd.array(range(n_r), dtype="Int64"),
    })
    sql = {
        "inner": "SELECT l.*, r.* FROM l JOIN r ON l.lid = r.rid AND l.lid2 = r.rid2",
        "left": "SELECT l.*, r.* FROM l LEFT JOIN r ON l.lid = r.rid AND l.lid2 = r.rid2",
        "full": "SELECT l.*, r.* FROM l FULL JOIN r ON l.lid = r.rid AND l.lid2 = r.rid2",
        "left_semi": "SELECT l.* FROM l WHERE EXISTS "
        "(SELECT 1 FROM r WHERE r.rid = l.lid AND r.rid2 = l.lid2)",
    }[how]
    want = _check(spark, lpdf, rpdf, sql, how)
    if how in ("inner", "left_semi"):
        on = [("lid", "rid"), ("lid2", "rid2")]
        joined = equi_join(spark.table("l"), spark.table("r"), on, how)
        got = _canon(tuple(r) for r in joined.collect())
        assert got == want, f"equi_join {how}: spark={got} duckdb={want}"
