"""TPC-H-class corpus vs the DuckDB oracle (reference benchmark surface,
tpc/src/main.rs:290-384 — see queries/tpch.py for adaptations).  That each
query runs its oracle text is guarded, with the other SQL corpora, in
tests/test_entrypoint_parity.py."""

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.testing import compare_to_oracle

TPCH_QUERIES = sorted(n for n in REGISTRY if n.startswith("tpch_"))


@pytest.mark.parametrize("name", TPCH_QUERIES)
def test_tpch_query_matches_oracle(spark, sf_dir_oracle, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir_oracle)
    assert spec.oracle is not None
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, f"{name}: {detail}"
