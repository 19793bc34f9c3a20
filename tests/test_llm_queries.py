"""LLM-pipeline corpus (dedup / ANN / text analysis) vs DuckDB oracle."""

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.testing import compare_to_oracle

NAMES = sorted(
    n for n in REGISTRY if n.startswith(("text_", "dedup_", "ann_", "corpus_", "vec_"))
)


def test_llm_corpus_registered():
    assert len(NAMES) >= 10


@pytest.mark.parametrize("name", NAMES)
def test_llm_query_matches_oracle(spark, sf_dir_oracle, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir_oracle)
    assert spec.oracle is not None
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_near_clusters", "dedup_apply"]
)
def test_minhash_distributed_matches_oracle(spark, sf_dir_oracle, monkeypatch, name):
    """The MinHash queries with the kernel ceiling at 0: the distributed
    plan (the band emitter's MapInArrow, the operators/pairs.py bucket
    pairs and the verify join) keeps oracle coverage, which the default
    run no longer reaches at test scale."""
    from datafusion_parallelism_spark.queries import llm

    monkeypatch.setattr(llm, "_MINHASH_KERNEL_MAX_DOCS", 0)
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir_oracle)
    ok, detail = compare_to_oracle(spark, df, spec.oracle, sf_dir_oracle)
    assert ok, f"{name}: {detail}"


def test_stop_shingle_ceiling_prunes_hot_shingles(spark):
    """A shingle present in > SHINGLE_DF_CEILING docs must be excluded
    from pair generation (its df² pair fan-out is the x64 cliff: jaccard
    went 33 s at x16 to 314 s at x64 before the cap), while rare shingles
    pass through untouched."""
    from pyspark.sql import functions as F

    from datafusion_parallelism_spark.operators.pairs import (
        cap_groups,
        partition_groups,
    )
    from datafusion_parallelism_spark.queries.llm import (
        SHINGLE_DF_CEILING,
        shingle_sets,
    )

    hot = SHINGLE_DF_CEILING + 10
    docs = [(i, "common boiler plate " + f"unique{i} token{i} tail{i}") for i in range(hot)]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    sh = shingle_sets(d).select("doc_id", F.explode("shingles").alias("s"))
    idx = cap_groups(partition_groups(sh, "s"), "s", SHINGLE_DF_CEILING)
    shingles = {r.s for r in idx.select("s").distinct().collect()}
    # 'common boiler plate' appears in every doc (> ceiling) -> pruned;
    # the per-doc unique shingles (df == 1) survive.
    assert "common boiler plate" not in shingles
    assert any(s.startswith("plate unique") for s in shingles)
    # and no surviving shingle exceeds the ceiling
    dfs = (
        idx.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert dfs <= SHINGLE_DF_CEILING
