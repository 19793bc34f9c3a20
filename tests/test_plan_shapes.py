"""Plan-shape assertions — the Spark analog of the reference's physical-plan
downcast checks (src/lib.rs:728-753 and the asserts it powers).

Each test pins an optimizer behavior the engine depends on at 100 TB:
decorrelation, outer-join elimination, join-strategy selection, predicate
pushdown, column pruning, whole-stage codegen.
"""

import pytest
from pyspark.sql import functions as F

from datafusion_parallelism_spark.operators.joins import equi_join
from datafusion_parallelism_spark.plans import (
    explain_str,
    forced_join_strategy,
    join_kinds,
    physical_plan_str,
    pushed_filters,
    read_schemas,
)
from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import load, register_tables

from conftest import spy_calls, with_conf


def test_exists_decorrelates_to_left_semi(spark, sf_dir):
    """EXISTS → LeftSemi (reference assert: src/lib.rs:357-358)."""
    kinds = join_kinds(REGISTRY["tpch_q4"].fn(spark, sf_dir))
    assert any(t == "LeftSemi" for _, t in kinds), kinds


def test_not_exists_decorrelates_to_left_anti(spark, sf_dir):
    """NOT EXISTS → LeftAnti (reference assert: src/lib.rs:422-423)."""
    register_tables(spark, sf_dir)
    df = spark.sql(
        "SELECT c_custkey FROM customer WHERE NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)"
    )
    kinds = join_kinds(df)
    assert any(t == "LeftAnti" for _, t in kinds), kinds


def test_full_outer_isnotnull_eliminates_outer(spark, sf_dir):
    """FULL OUTER + WHERE side IS NOT NULL loses FullOuter (reference
    assert: planned as a Right join, src/lib.rs:475-487)."""
    kinds = join_kinds(REGISTRY["join_full_isnotnull"].fn(spark, sf_dir))
    assert kinds and all(t != "FullOuter" for _, t in kinds), kinds


def test_small_dimension_join_broadcasts(spark, sf_dir):
    """nation (25 rows) must broadcast, not shuffle the fact side."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    df = equi_join(c, n, [("c_nationkey", "n_nationkey")])
    with forced_join_strategy(spark, "broadcast"):
        kinds = join_kinds(df)
    assert ("BroadcastHashJoin", "Inner") in kinds, kinds


def test_forced_shuffled_hash_join(spark, sf_dir):
    """The shuffle_hash hint forces ShuffledHashJoin — the reference's
    PartitionMode::Partitioned subject (use_parallel_hash_join_rule.rs:80-86),
    with the hint playing the role of replacement_required."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    kinds = join_kinds(equi_join(o, c.hint("shuffle_hash"), [("o_custkey", "c_custkey")]))
    assert ("ShuffledHashJoin", "Inner") in kinds, kinds


def test_forced_sort_merge_join(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    with forced_join_strategy(spark, "sort_merge"):
        kinds = join_kinds(equi_join(o, c, [("o_custkey", "c_custkey")]))
    assert ("SortMergeJoin", "Inner") in kinds, kinds


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40).select(
        "l_orderkey"
    )
    pf = pushed_filters(df)
    assert any("GreaterThan(l_quantity" in f for f in pf), pf


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema in explain"
    assert schemas[0] == "struct<l_orderkey:bigint,l_quantity:double>", schemas


def test_partition_pruning_like_filter_on_timestamp(spark, sf_dir):
    """Timestamp filters must be pushed (min/max row-group pruning at
    scale)."""
    df = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")
    )
    pf = pushed_filters(df)
    assert any("LessThan(l_shipdate" in f for f in pf), pf


def test_q1_runs_in_whole_stage_codegen(spark, sf_dir):
    """The scan→filter→partial-agg pipeline of q1 must run inside
    WholeStageCodegen spans (the Tungsten fast path).  AQE only reveals
    codegen in the FINAL plan, so execute first, then inspect."""
    df = REGISTRY["tpch_q1"].fn(spark, sf_dir)
    df.collect()
    plan = physical_plan_str(df)
    assert "HashAggregate" in plan
    import re

    # `*(n)` node prefixes mark whole-stage-codegen spans in plan strings.
    assert re.search(r"\*\(\d+\)", plan), plan


def test_aggregation_is_partial_then_final(spark, sf_dir):
    """groupBy must plan partial (map-side) + final HashAggregate around
    one exchange — the shape that keeps the q1 shuffle at 6 rows/task."""
    plan = physical_plan_str(REGISTRY["tpch_q1"].fn(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan
    assert "Exchange hashpartitioning" in plan, plan


def test_broadcast_join_has_no_shuffle_of_fact_side(spark, sf_dir):
    """Broadcast join must not exchange the big side at all."""
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    df = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select("l_orderkey", "p_brand")
    plan = physical_plan_str(df)
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_three_part_catalog_naming(spark, sf_dir):
    """3-part table naming (reference: my_catalog.my_schema.table via
    MemoryCatalogProvider, src/lib.rs:822-828) — Spark's
    spark_catalog.<db>.<table> equivalent."""
    spark.sql("CREATE DATABASE IF NOT EXISTS eng_schema")
    load(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        "eng_schema.nation_tbl"
    )
    try:
        n = spark.sql(
            "SELECT COUNT(*) AS n FROM spark_catalog.eng_schema.nation_tbl"
        ).collect()[0].n
        assert n == 25
        assert spark.catalog.tableExists("eng_schema.nation_tbl")
    finally:
        spark.sql("DROP TABLE IF EXISTS eng_schema.nation_tbl")
        spark.sql("DROP DATABASE IF EXISTS eng_schema")


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """rank<=k filters push a per-partition group limit into the window
    sort (WindowGroupLimit) — each task keeps k rows per key instead of
    sorting whole groups."""
    plan = physical_plan_str(REGISTRY["window_topk_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_global_topk_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT plans as TakeOrderedAndProject (per-partition
    partial top-k + merge), never a global sort."""
    plan = physical_plan_str(REGISTRY["text_vocab_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [n" not in plan, plan


def test_cross_join_is_broadcast_nested_loop(spark, sf_dir):
    """Explicit cross join of two broadcast-small dims must plan as
    BroadcastNestedLoopJoin — no shuffle exchange at all."""
    plan = physical_plan_str(REGISTRY["join_cross"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_nullsafe_join_is_hash_join_not_cartesian(spark, sf_dir):
    """<=> is a valid hash-join key (the NULL bucket hashes like a value):
    the plan must use a hash-based equi join, not fall back to
    nested-loop/cartesian."""
    plan = physical_plan_str(REGISTRY["join_nullsafe"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan, plan


def test_block_cosine_has_no_cartesian(spark, sf_dir):
    """The block-matrix all-pairs cosine fans out via broadcast block-pair
    joins + one FlatMapGroupsInPandas tile product — never a row-level
    cartesian join."""
    plan = physical_plan_str(REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_bruteforce_is_blocked_pandas_topk(spark, sf_dir):
    """Brute-force ANN scores query×block tiles in one vectorized
    FlatMapGroupsInPandas — never a row-level cartesian/HOF pair scan."""
    plan = physical_plan_str(REGISTRY["ann_bruteforce_topk"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_filtered_broadcasts_query_side(spark, sf_dir):
    """Filtered vector search joins corpus→queries on the label: the tiny
    query side broadcasts; the corpus never shuffles."""
    plan = physical_plan_str(REGISTRY["ann_filtered_topk"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    """The per-type mean/stddev aggregate (handful of rows) is broadcast
    back against events — the fact table must not hash-shuffle for the
    join itself."""
    plan = physical_plan_str(REGISTRY["events_anomaly_zscore"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_decontaminate_broadcasts_benchmark_set(spark, sf_dir):
    """The benchmark shingle set must broadcast (eval suites are tiny vs
    a training corpus); the training side then never shuffles for the
    membership test."""
    plan = physical_plan_str(REGISTRY["corpus_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_injected_for_selective_shuffle_join(spark, sf_dir):
    """Runtime row-level filtering: when a selective dimension side feeds a
    shuffle join, the optimizer can inject a bloom filter built from the
    dimension keys into the fact scan — at 100 TB this prunes the shuffled
    fact rows BEFORE the exchange (the runtime complement of static
    predicate pushdown).  Thresholds are forced down here because the
    injection is size-gated for real workloads."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") % 100 == 0)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = li.join(p, li.l_partkey == p.p_partkey).groupBy("l_returnflag").count()
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exists_in_disjunction_plans_existence_join(spark, sf_dir):
    """EXISTS under OR cannot filter via semi join — Catalyst must attach
    a boolean mark (ExistenceJoin), the capability the reference's
    operator rejects (probe_lookup_implementation.rs:32-75)."""
    df = REGISTRY["join_existence_mark"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistenceJoin" in plan, plan[:1500]


def test_pq_codebook_broadcasts_and_scan_prunes(spark, sf_dir):
    """vec_pq_codes: the codebook must reach the corpus without ever
    exchanging the vector side before the per-vector aggregation — via
    the task-closure Arrow kernel (MapInArrow, codebook in the closure,
    no join at all), which applies the DuckDB oracle's argmin / MIN(aid)
    rule.  The embeddings scan must read only the two used columns
    (asserted on the whole-vector rows every PQ and k-means kernel
    reads)."""
    plan = physical_plan_str(REGISTRY["vec_pq_codes"].fn(spark, sf_dir))
    assert "MapInArrow" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    from datafusion_parallelism_spark.operators import vectors
    from datafusion_parallelism_spark.session import load

    schemas = read_schemas(vectors.rows(load(spark, sf_dir, "embeddings")))
    assert any("vec_id" in s and "embedding" in s for s in schemas), schemas


def test_pq_adc_topk_uses_window_group_limit(spark, sf_dir, monkeypatch):
    """Above its size gate (ceiling patched to 0) ann_pq_topk's exact
    top-k must plan with the partial WindowGroupLimit (map-side k-row
    bound before the final window's exchange) and rank the corpus in the
    map kernel with the LUT in its closure — no corpus-side Exchange
    below the partial WindowGroupLimit."""
    from datafusion_parallelism_spark.operators import vectors

    monkeypatch.setattr(vectors, "_VECTOR_KERNEL_MAX_VECS", 0)
    plan = physical_plan_str(REGISTRY["ann_pq_topk"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    partial = plan[plan.index("Partial"):]
    assert "MapInArrow" in partial and "Exchange" not in partial, plan


def test_pq_adc_topk_below_gate_is_one_arrow_task(spark, sf_dir_oracle):
    """Below the footer-read vector gate every PQ and k-means query builds
    with zero Spark jobs and plans as exactly one MapInArrow (fit,
    encode or assign, and for the ADC queries LUT, cells and top-k,
    fused) over the scan: no broadcast join and no Exchange below the
    kernel."""
    import os

    from datafusion_parallelism_spark.operators import vectors
    from datafusion_parallelism_spark.session import parquet_num_rows

    n = parquet_num_rows(os.path.join(sf_dir_oracle, "embeddings.parquet"))
    assert vectors.fits(n)
    # The memoized scan's schema read is table registration, not build.
    load(spark, sf_dir_oracle, "embeddings")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    for name in (
        "ann_pq_topk",
        "vec_pq_codes",
        "ann_ivfpq_topk",
        "vec_kmeans_clusters",
        "mix_cluster_balanced_sample",
    ):
        jobs = scheduler.numTotalJobs()
        df = REGISTRY[name].fn(spark, sf_dir_oracle)
        assert scheduler.numTotalJobs() == jobs, name
        plan = physical_plan_str(df)
        assert plan.count("MapInArrow") == 1, (name, plan)
        assert "BroadcastHashJoin" not in plan, (name, plan)
        assert "Exchange" not in plan[plan.index("MapInArrow"):], (name, plan)


def test_minhash_below_gate_is_one_arrow_task(spark, sf_dir):
    """Below the footer-read gate dedup_minhash_lsh builds with zero Spark
    jobs and plans as exactly one MapInArrow (shingle, sign, band, pair
    and verify fused) over the scan: no Python UDF, no join and no
    Exchange below the kernel."""
    import os

    from datafusion_parallelism_spark.queries.llm import _MINHASH_KERNEL_MAX_DOCS
    from datafusion_parallelism_spark.session import parquet_num_rows

    n = parquet_num_rows(os.path.join(sf_dir, "documents.parquet"))
    assert n <= _MINHASH_KERNEL_MAX_DOCS
    # The memoized scan's schema read is table registration, not build.
    load(spark, sf_dir, "documents")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.numTotalJobs()
    df = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
    assert scheduler.numTotalJobs() == jobs
    plan = physical_plan_str(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan and "Join" not in plan, plan
    assert "Exchange" not in plan[plan.index("MapInArrow"):], plan


@pytest.mark.parametrize("aqe", ["false", "true"])
def test_minhash_above_gate_runs_one_arrow_map(spark, sf_dir, monkeypatch, aqe):
    """At ceiling 0 the MinHash build's one Python node is the band
    emitter's MapInArrow, and it runs once per build: both sides of the
    bucket self-join read one exchange, the second as a ReusedExchange
    (with AQE on, once its stages have run).  A pandas UDF's
    ArrowEvalPython subtree was never merged that way, so its band table
    needed a checkpoint of its own.  The final plan reads the lazily
    checkpointed candidates and verifies them against llm.shingle_sets,
    one map per side of the verify join."""
    from datafusion_parallelism_spark.queries import llm

    monkeypatch.setattr(llm, "_MINHASH_KERNEL_MAX_DOCS", 0)
    cands = spy_calls(monkeypatch, llm, "_minhash_candidates")
    with with_conf(spark, {"spark.sql.adaptive.enabled": aqe}):
        df = REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir)
        (cand,) = cands
        cand.collect()
        plan = physical_plan_str(cand).split("== Initial Plan ==")[0]
        final = physical_plan_str(df)
    assert plan.count("MapInArrow") == 1 and "ReusedExchange" in plan, plan
    assert "ArrowEvalPython" not in plan + final, plan + final
    assert final.count("MapInArrow emit") == 2 == final.count("MapInArrow"), final


@pytest.mark.parametrize("aqe", ["false", "true"])
@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment"])
def test_shingle_overlap_builds_with_no_job(spark, sf_dir, name, aqe):
    """The shingle-overlap scorers build with zero Spark jobs, AQE on or
    off, and plan no checkpoint scan and no join but the pair self-join:
    the set sizes ride the packed pair member, so no size table is joined
    back and no lazy checkpoint (which AQE runs at build) is needed."""
    load(spark, sf_dir, "documents")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    with with_conf(spark, {"spark.sql.adaptive.enabled": aqe}):
        jobs = scheduler.numTotalJobs()
        df = REGISTRY[name].fn(spark, sf_dir)
        assert scheduler.numTotalJobs() == jobs
        plan = physical_plan_str(df)
        joins = join_kinds(df)
    assert "ExistingRDD" not in plan and "MapInArrow" in plan, plan
    assert len(joins) == 1, joins


def test_pii_redact_is_single_aggregation_no_python(spark, sf_dir):
    """corpus_pii_redact: pure JVM regex kernels + ONE hash-partitioned
    exchange (the per-source aggregate) — no Python evaluation anywhere
    in the plan."""
    plan = physical_plan_str(REGISTRY["corpus_pii_redact"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_corpus_profile_single_expand_single_exchange(spark, sf_dir):
    """The per-column profiler must stay ONE aggregation pass: the
    multi-column COUNT(DISTINCT) set plans as a single Expand feeding one
    shuffle — per-column scans or extra exchanges would turn a metadata
    query into column-count full passes at 100 TB."""
    plan = physical_plan_str(REGISTRY["corpus_profile"].fn(spark, sf_dir))
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 2, plan


def test_agg_count_distinct_split_no_expand(spark, sf_dir):
    """agg_count_distinct must plan as per-column distinct→count branches
    joined by broadcast, NOT the Expand-based multi-distinct: Expand
    triples the fact scan and merges both key domains into one partial
    aggregate whose per-task hash table spills at GB factors (x256 A/B:
    21.5–30.6 s Expand vs 14.8 s split; BASELINE.md §Round 5).  Contrast
    corpus_profile, where one Expand pass over MANY low-churn columns is
    the right trade — see its test above."""
    plan = physical_plan_str(REGISTRY["agg_count_distinct"].fn(spark, sf_dir))
    assert "Expand" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("Scan parquet") == 3, plan
    # Each distinct branch dedups map-side BEFORE its exchange (partial
    # aggregation keeps the shuffle at one row per distinct key).
    assert plan.count("HashAggregate") >= 8, plan


def test_pagerank_iteration_plan_is_truncated(spark, monkeypatch):
    """localCheckpoint must keep each iteration's plan O(1) deep: the
    final rank DataFrame's physical plan may reference checkpointed RDDs
    but not re-derive the full 10-iteration join chain."""
    from datafusion_parallelism_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], schema="u long, v long"
    )
    # Kill the r11 small-graph Arrow kernel so this keeps pinning the
    # DISTRIBUTED loop's plan shape (the kernel path has no joins at all).
    monkeypatch.setattr(graph, "_PAGERANK_KERNEL_MAX_EDGES", 0)
    plan = physical_plan_str(graph.pagerank(edges, iterations=4))
    assert "Scan ExistingRDD" in plan, plan
    # One iteration = one edges-ranks join; a non-truncated plan would
    # contain 4+ joins.
    assert plan.count("Join") <= 2, plan


def test_triangle_corners_single_generator_pass(spark, monkeypatch, sf_dir):
    """The per-corner count must come from ONE explode over the triangle
    list, not a 3-way union of projections — union would inline the
    wedge-join subtree three times (ReusedExchange dedupes the shuffle
    writes but each copy re-reads and re-joins; measured 22-exchange plan
    vs 10).  Pin: exactly one LeftSemi (the closing-edge check), exactly
    one Generate (the corner explode), no BroadcastNestedLoop/cartesian.
    Both gates are patched to 0: the query's lineitem-footer gate (else
    the fused kernel runs) and the edge-count gate."""
    from datafusion_parallelism_spark.operators import graph
    from datafusion_parallelism_spark.queries import graph as graph_queries

    monkeypatch.setattr(graph_queries, "_CO_PURCHASE_KERNEL_MAX_ROWS", 0)
    with monkeypatch.context() as m:
        m.setattr(graph, "_TRI_KERNEL_MAX_EDGES", 0)
        plan = physical_plan_str(
            REGISTRY["graph_triangle_counts"].fn(spark, sf_dir)
        )
    assert plan.count("LeftSemi") == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 12, plan
    # Edge gate at its default (r11): a small measured edge count routes
    # the count into the single-task NumPy kernel — no joins at all.
    plan = physical_plan_str(REGISTRY["graph_triangle_counts"].fn(spark, sf_dir))
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan


def test_triangle_query_below_gate_is_one_arrow_task(spark, sf_dir):
    """Below the lineitem-footer gate graph_triangle_counts builds with
    zero Spark jobs (no co-purchase pair-count checkpoint) and plans as
    exactly one MapInArrow (distinct, basket cap, pair count and
    compact-forward triangles fused) over the scan: no join and no
    Exchange below the kernel."""
    import os

    from datafusion_parallelism_spark.queries.graph import (
        _CO_PURCHASE_KERNEL_MAX_ROWS,
    )
    from datafusion_parallelism_spark.session import parquet_num_rows

    n = parquet_num_rows(os.path.join(sf_dir, "lineitem.parquet"))
    assert n <= _CO_PURCHASE_KERNEL_MAX_ROWS
    # The memoized scan's schema read is table registration, not build.
    load(spark, sf_dir, "lineitem")
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = scheduler.numTotalJobs()
    df = REGISTRY["graph_triangle_counts"].fn(spark, sf_dir)
    assert scheduler.numTotalJobs() == jobs
    plan = physical_plan_str(df)
    assert plan.count("MapInArrow") == 1, plan
    assert "Join" not in plan and "Scan ExistingRDD" not in plan, plan
    assert "Exchange" not in plan[plan.index("MapInArrow"):], plan


def test_triangle_wedge_table_never_sorted(spark, monkeypatch):
    """Round-10 contract: the Σ outdeg² wedge table streams through a
    ShuffledHashJoin for the closing-edge semi probe (build = edge-sized
    side) and the wedge join itself is also SHJ — under the SMJ planner
    default the semi join SORTED the whole wedge table (29 GB of x256
    memory spill, r9 ledger item #3).  Pins: both joins shuffled-hash, no
    Sort anywhere in the plan."""
    from datafusion_parallelism_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, j) for i in range(12) for j in range(i + 1, 12) if (i + j) % 3],
        schema="u long, v long",
    )
    monkeypatch.setattr(graph, "_TRI_KERNEL_MAX_EDGES", 0)
    with with_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "true",
        },
    ):
        plan = physical_plan_str(graph.triangle_counts(edges)).split(
            "== Initial Plan =="
        )[0]
        assert plan.count("ShuffledHashJoin") == 2, plan
        assert "SortMergeJoin" not in plan, plan
        assert "Sort " not in plan, plan


def test_pagerank_final_plan_is_copartitioned_no_exchange(spark, monkeypatch):
    """The returned ranks view (nodes ⋈ final contribs, both checkpoint-
    partitioned at session width) must plan exchange-free: losing the
    src/node partitioning reuse would show up here as a new Exchange."""
    from datafusion_parallelism_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (2, 6)],
        schema="u long, v long",
    )
    monkeypatch.setattr(graph, "_PAGERANK_KERNEL_MAX_EDGES", 0)
    # Benchmark-session posture below the AQE byte gate (session.py): with
    # AQE on, the checkpoint materializes under AdaptiveSparkPlan and its
    # LogicalRDD reports UnknownPartitioning, so the final join re-plans
    # exchanges it doesn't need — the co-partitioning contract this test
    # pins is the AQE-off small-input regime (and at real scale AQE's
    # runtime reuse makes its own call).
    with with_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        plan = physical_plan_str(graph.pagerank(edges, iterations=3))
    assert "Exchange" not in plan, plan


def test_winnow_fingerprints_selection_is_shuffle_free(spark):
    """Winnowing fingerprint SELECTION (gram hashing + sliding window
    minima + per-doc distinct) is one Arrow map inside the narrow scan
    stage: no WindowExec, no Sort, no Exchange.  The r5 formulation
    exchanged + sorted the whole O(total_chars) gram table (91 GB of x256
    sort spill, ledger item #2); a regression to any window/sort based
    selection, or to a fingerprint distinct, re-introduces a shuffle."""
    from datafusion_parallelism_spark.queries.llm import winnow_fingerprints

    d = spark.createDataFrame(
        [(1, "x" * 200), (2, "y" * 500)], "doc_id long, text string"
    )
    plan = physical_plan_str(winnow_fingerprints(d))
    assert "MapInArrow" in plan, plan
    assert "Window" not in plan, plan
    assert "Sort" not in plan, plan
    assert "Exchange" not in plan, plan


def test_winnow_capped_fingerprints_df_window_rides_join_partitioning(spark):
    """The stop-fingerprint cap (round 6) must cost ZERO exchanges beyond
    what the uncapped pipeline already shuffles: the df-count window runs
    over the same hashpartitioning(h) the pair self-join consumes.  This
    pins the pre-join subtree of the pair primitive (operators/pairs.py
    partition_groups + cap_groups) directly: exactly one exchange, the h
    repartition the df window and the join both ride."""
    from datafusion_parallelism_spark.operators.pairs import (
        cap_groups,
        partition_groups,
    )
    from datafusion_parallelism_spark.queries.llm import (
        WINNOW_FP_DF_CEILING,
        winnow_fingerprints,
    )

    d = spark.createDataFrame(
        [(1, "x" * 200), (2, "y" * 500), (3, "x" * 150)], "doc_id long, text string"
    )
    fp = partition_groups(winnow_fingerprints(d), "h")
    plan = physical_plan_str(cap_groups(fp, "h", WINNOW_FP_DF_CEILING))
    assert plan.count("Exchange") == 1, plan
    # The df window itself partitions on h and sits above the h-repartition.
    assert "windowspecdefinition(h#" in plan or "windowspecdefinition(h " in plan, plan


def test_winnow_spans_map_runs_once_per_build(spark, sf_dir):
    """Both sides of dedup_winnow_spans' pair self-join read one h
    exchange: with AQE off, ReuseExchange merges the fingerprint map's
    subtree, so the plan holds one MapInArrow and the second side is a
    ReusedExchange, with no checkpoint between them."""
    with with_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        plan = physical_plan_str(REGISTRY["dedup_winnow_spans"].fn(spark, sf_dir))
    assert plan.count("MapInArrow") == 1, plan
    assert "ReusedExchange" in plan, plan
    assert "Scan ExistingRDD" not in plan, plan


def test_kmeans_final_plan_broadcast_assign_two_exchanges(spark, sf_dir):
    """vec_kmeans_clusters' assignment must never shuffle the corpus
    side: below the vector gate fit and assignment are one Arrow task
    over the scan (MapInArrow — zero joins, zero exchanges), which
    applies the DuckDB oracle's round-then-argmin / MIN(cid) rule."""
    plan = physical_plan_str(REGISTRY["vec_kmeans_clusters"].fn(spark, sf_dir))
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_checkpoint_pinned_preserves_metadata_under_aqe(spark):
    """The round-10 load-bearing fact: an eager localCheckpoint planned
    under AQE stores UnknownPartitioning/Nil ordering in its LogicalRDD,
    so consumers re-exchange AND re-sort the checkpointed table every
    time it is joined — checkpoint_pinned (scoped AQE-off around the
    checkpoint job) keeps both, and an AQE-ON consumer honors them.
    Pins: pinned side contributes NO Exchange and NO Sort to a forced
    SMJ; a plain eager localCheckpoint of the same table contributes
    both."""
    import re

    from datafusion_parallelism_spark.plans import checkpoint_pinned

    df = spark.range(20000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("x")
    )
    other = spark.range(10000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("y")
    )

    def smj_counts(ck):
        j = ck.join(other.repartition(8, "k"), ck["k"] == other["k"])
        txt = physical_plan_str(j).split("== Initial Plan ==")[0]
        return (
            len(re.findall(r"Exchange hashpartitioning\(k#", txt)),
            len(re.findall(r"Sort \[k#", txt)),
        )

    with with_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        base = df.repartition(8, "k").sortWithinPartitions("k")
        exch, sorts = smj_counts(checkpoint_pinned(base))
        # exactly the OTHER side's exchange+sort; pinned side contributes none
        assert (exch, sorts) == (1, 1), (exch, sorts)
        # AQE must be restored after the pin (scoped flip)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        base2 = df.repartition(8, "k").sortWithinPartitions("k")
        exch, sorts = smj_counts(base2.localCheckpoint(eager=True))
        assert (exch, sorts) == (2, 2), (exch, sorts)


def test_pagerank_pinned_nodes_side_no_exchange_under_aqe(spark, monkeypatch):
    """The pagerank loop's exchange-free contract now holds under AQE-ON
    (round 10; previously only pinned AQE-off): the returned ranks view
    joins pinned nodes with the (deliberately un-pinned) contrib
    checkpoint — the nodes/ExistingRDD side must plan with no Exchange
    and no Sort; contrib's small dst-side re-exchange is the only one."""
    import re

    from datafusion_parallelism_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(0, 4), (2, 6)],
        schema="u long, v long",
    )
    monkeypatch.setattr(graph, "_PAGERANK_KERNEL_MAX_EDGES", 0)
    with with_conf(spark, {"spark.sql.adaptive.enabled": "true"}):
        plan = physical_plan_str(graph.pagerank(edges, iterations=3)).split(
            "== Initial Plan =="
        )[0]
    assert not re.search(r"Exchange hashpartitioning\(node#", plan), plan
    assert not re.search(r"Sort \[node#", plan), plan
    # contrib side: at most one exchange (+sort) on dst
    assert len(re.findall(r"Exchange hashpartitioning\(dst#", plan)) <= 1, plan
