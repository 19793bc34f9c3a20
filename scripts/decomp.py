#!/usr/bin/env python
"""Stage decomposition of a dedup pipeline at a replica scale.

Noop-writes each cumulative PREFIX of the pipeline in one fresh
benchmark_session (the r7 winnow-decomp protocol: stage N's wall includes
stages 1..N, so stage cost = wall[N] − wall[N−1] up to re-run noise;
localCheckpoint blocks are released between stages off the clock).  Prints
one JSON line per stage.

Round-8 subject (VERDICT r7 item 3): dedup_ngram_jaccard at x256 is the
biggest non-graph line (127 s cold, scale_sweep_r7.jsonl) and has never had
a stage decomposition.  Round-9 subject (VERDICT r8 item 1): the ``chain``
pipeline decomposes join_inner_chain's ×2.81 decade leg join-by-join.

Usage: python scripts/decomp.py SF_DIR {jaccard|winnow|chain}
Env:   DECOMP_METRICS=1  enable the Spark UI and attach per-Spark-stage
       shuffle read/write, spill, and input bytes (REST API) to each
       prefix's JSON row — the spill evidence VERDICT r8 item 1 asks for.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

PROTOCOL = "decomp-v1"


def jaccard_stages(spark, sf_dir):
    """Cumulative prefixes of dedup_ngram_jaccard's unshared shape.

    These stages decompose the PRE-round-8 plan — a fresh
    ``_blocked_shingle_index`` plus a fresh ``_doc_shingles`` denominator —
    i.e. the recompute shape whose duplicated scan+tokenize+shingle pass the
    r8 shared-checkpoint fix removed (queries/llm.py
    ``_shared_shingle_arrays``).  That is what the r8 investigation needed
    (it produced the finding), but it is NOT the shipped plan, and the
    query has no switch back to it: compare these rows with each other,
    not with a live run of the query (ADVICE r8 #2)."""
    from datafusion_parallelism_spark.queries.llm import (
        JACCARD_THRESHOLD,
        _blocked_shingle_index,
        _doc_shingles,
        _docs_spread,
        _shingle_table,
    )

    d = _docs_spread(spark, sf_dir)
    n_part = spark.sparkContext.defaultParallelism

    def pairs_counted():
        sh = _blocked_shingle_index(d, n_part)
        a, b = sh.alias("a"), sh.alias("b")
        return (
            a.join(
                b,
                (F.col("a.s") == F.col("b.s"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def scored():
        shared = pairs_counted()
        cnt = _doc_shingles(d).select("doc_id", "n")
        jac = F.round(
            F.col("c") / (F.col("ca.n") + F.col("cb.n") - F.col("c")), 4
        )
        return (
            shared.join(cnt.alias("ca"), F.col("ca.doc_id") == F.col("doc_a"))
            .join(cnt.alias("cb"), F.col("cb.doc_id") == F.col("doc_b"))
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )

    return [
        # scan + split + shingle arrays (pure map over text)
        ("shingle_arrays", lambda: _doc_shingles(d)),
        # + explode to the inverted-index row shape
        ("exploded", lambda: _shingle_table(d)),
        # + repartition by shingle + window df + stop-shingle filter
        ("indexed", lambda: _blocked_shingle_index(d, n_part)),
        # + blocked self-join + map-side-combined pair counts
        ("pairs_counted", pairs_counted),
        # + per-doc |set| joins + Jaccard scoring (the full query)
        ("scored", scored),
    ]


def winnow_stages(spark, sf_dir):
    from datafusion_parallelism_spark.queries.llm import (
        WINNOW_T,
        _docs_spread,
        winnow_fingerprints,
        winnow_pair_counts,
    )

    d = _docs_spread(spark, sf_dir)
    n_part = spark.sparkContext.defaultParallelism
    return [
        ("fingerprints", lambda: winnow_fingerprints(d)),
        ("pairs_counted", lambda: winnow_pair_counts(winnow_fingerprints(d), n_part)),
        (
            "scored",
            lambda: winnow_pair_counts(winnow_fingerprints(d), n_part).filter(
                F.col("shared_fps") >= WINNOW_T
            ),
        ),
    ]


def chain_stages(spark, sf_dir):
    """Cumulative prefixes of join_inner_chain (queries/joins.py:46) — the
    reference's canonical 4-chain join (src/lib.rs:72-82).  Round-9 subject
    (VERDICT r8 item 1): its x128→x256 decade leg was ×2.81, the only
    >×2.3 leg on the v3 layout, and sort is n·log n — more than log-factor
    growth needs a stage-level explanation or a fix.

    Each prefix SELECTs only the columns the full query still needs at that
    point, so Catalyst's column pruning under the noop write matches the
    shipped plan's (a bare prefix write would drag every joined column
    through the shuffle and decompose a different, wider query)."""
    from datafusion_parallelism_spark.operators.joins import equi_join
    from datafusion_parallelism_spark.queries.joins import join_inner_chain
    from datafusion_parallelism_spark.session import load

    price = [F.col("l_extendedprice"), F.col("l_discount")]

    def scan():
        return load(spark, sf_dir, "lineitem").select("l_orderkey", *price)

    def join_orders():
        j = equi_join(
            scan(),
            load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            [("l_orderkey", "o_orderkey")],
        )
        return j.select("o_custkey", *price)

    def join_customer():
        j = equi_join(
            join_orders(),
            load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            [("o_custkey", "c_custkey")],
        )
        return j.select("c_nationkey", *price)

    def join_dims():
        j = equi_join(
            join_customer(),
            F.broadcast(load(spark, sf_dir, "nation")),
            [("c_nationkey", "n_nationkey")],
        )
        j = equi_join(
            j,
            F.broadcast(load(spark, sf_dir, "region")),
            [("n_regionkey", "r_regionkey")],
        )
        return j.select("n_name", "r_name", *price)

    return [
        ("scan_lineitem", scan),
        ("join_orders", join_orders),
        ("join_customer", join_customer),
        ("join_dims", join_dims),
        ("agg", lambda: join_inner_chain(spark, sf_dir)),
    ]


PIPELINES = {
    "jaccard": jaccard_stages,
    "winnow": winnow_stages,
    "chain": chain_stages,
}


def main() -> int:
    sf_dir, pipeline = sys.argv[1], sys.argv[2]
    from datafusion_parallelism_spark.session import (
        benchmark_session,
        force_execute,
        persistent_rdd_ids,
        release_persisted,
    )

    want_metrics = os.environ.get("DECOMP_METRICS", "") == "1"
    extra_conf = json.loads(os.environ.get("DECOMP_CONF", "{}"))
    if want_metrics:
        extra_conf["spark.ui.enabled"] = "true"
    spark = benchmark_session(
        sf_dir, app_name=f"decomp-{pipeline}", extra_conf=extra_conf
    )
    keep_ids = frozenset(persistent_rdd_ids(spark))
    seen_stage_ids: set[int] = set()
    for stage, build in PIPELINES[pipeline](spark, sf_dir):
        t0 = time.perf_counter()
        force_execute(build())
        wall = round(time.perf_counter() - t0, 3)
        rec = {
            "protocol": PROTOCOL,
            "pipeline": pipeline,
            "sf_dir": sf_dir,
            "stage": stage,
            "wall_s": wall,
        }
        if want_metrics:
            # Attribute ONLY the Spark stages this prefix ran (new ids since
            # the previous snapshot); sums answer "where did the bytes go",
            # the per-stage rows answer "which exchange spilled".
            # Attribution window: the snapshot is taken right after
            # force_execute returns, so a stage whose straggler tasks
            # complete BETWEEN this snapshot and the next prefix is
            # attributed to the FOLLOWING prefix's row — boundary stages can
            # shift one row late.  Consumers of decomp JSONLs should treat
            # a suspicious stage on a row boundary as possibly belonging to
            # the previous prefix (rec carries this note as "attribution").
            from datafusion_parallelism_spark.metrics import stage_metrics, totals

            all_stages = stage_metrics(spark)
            mine = {
                k: v for k, v in all_stages.items() if k not in seen_stage_ids
            }
            seen_stage_ids.update(all_stages)
            rec["spark_stages"] = sorted(
                (dict(v, stage_id=k) for k, v in mine.items()),
                key=lambda r: -r["run_ms"],
            )
            rec["totals"] = totals(mine)
            rec["attribution"] = "post-execute snapshot; boundary stages may shift one row late"
        print(json.dumps(rec), flush=True)
        release_persisted(spark, keep_ids)
    return 0


if __name__ == "__main__":
    sys.exit(main())
