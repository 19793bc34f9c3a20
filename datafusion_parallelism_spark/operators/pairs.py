"""Blocked pair co-occurrence counting: how many groups each member pair shares.

Every "which documents share a group" query is the same pipeline over
(group, member) rows.  The callers, with their group and member:

* shingle Jaccard and containment (queries/llm.py): shingle, doc_id;
* winnowing spans, exact and hot: fingerprint, doc_id;
* MinHash LSH above its kernel gate: packed (band, 4 minima) bucket, doc_id;
* SimHash pairs: packed (block index, block value), struct(doc_id, simhash);
* co-purchase edges (queries/graph.py): order, part.

The steps:

1. ``partition_groups`` — hash-partition the rows on the group key;
2. ``cap_groups`` — drop groups with more than ``max_group`` members, by a
   window COUNT over that same partitioning (zero extra exchanges);
3. ``pair_counts`` — the ``a.member < b.member`` self-join on the group key,
   which rides the partitioning too, then ``count_pairs``;
4. ``count_pairs`` — the pair-keyed exchange at ``_pair_width``, then the
   reduce-side count.

A group of n members expands to n(n-1)/2 pair rows, so the pair stream is
Σ n² over groups: superlinear in the input, and one boilerplate group alone
can dominate it.  The cap bounds the worst group at max_group²/2 rows and
is exact, not sampled (a partial group would fabricate counts); the
capping callers' oracles mirror it.  The steps are separate functions so
callers keep their own input derivation and checkpoints between them.

Reference analog: the parallel hash join's build/probe split
(``src/operator/parallel_hash_join.rs``) with its work-stealing repartition
as the skew answer; here the group cap bounds the hot key and AQE's
skew-join split covers the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

#: Pair-exchange width over the group width when AQE is on (see _pair_width).
_PAIR_WIDTH_FACTOR = 4


def _group_width(spark: SparkSession) -> int:
    """max(cores, session shuffle width).  The session conf scales with
    input bytes (session.auto_shuffle_partitions); the cores floor keeps
    every core busy on the group exchange, whose input (an exploded
    shingle table is ~50x the input bytes the conf was sized from) is
    larger than the conf assumes.  defaultParallelism alone is a fixed
    count on any corpus: at the x256 replica it starved the join stages
    to a quarter of the session width."""
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def _pair_width(spark: SparkSession) -> int:
    """Partition count of the pair-keyed exchange: the group width, times
    _PAIR_WIDTH_FACTOR when AQE is on.

    The pair stream is Σ n², superlinear in the input the session width
    was sized from, so the reduce-side count's per-task hash map grows
    with scale (dedup_containment x64 ledger: 35 tasks, ~0.9 GB of
    aggregate state each, 46 GB of memory spill).  AQE on is the
    large-input posture (session.AQE_MIN_INPUT_BYTES and up); there the
    factor buys one decade of pair-volume growth.  Below it the extra
    partitions are idle reducers: sending the co-purchase pairs at 4x
    instead of 1x cost a median 1.90 -> 2.29 s of CPU on
    graph_triangle_counts' distributed co-purchase path at sf0.01 (4
    cores, 16 alternating pairs), measured before that query's fused
    kernel took sf0.01 below its gate.

    The count is explicit, so the exchange is REPARTITION_BY_NUM, which
    AQE never coalesces, and this width is what runs.  That is required:
    AQE coalesces toward a shuffle-BYTES target (16 MB advisory), but the
    count's hash state is 40-90x its compressed pair bytes (x16 Jaccard:
    ~550 MB peak per 13 MB partition; x256: ~240 MB per 2.6 MB).  A
    coalescable exchange, a rebalance or a column-only repartition, falls
    back to the byte-sized width whatever it starts at.  The x64 ledger's
    column-only exchange ran 35 tasks of ~0.9 GB state each and spilled
    46 GB; at x16 (4 cores) a rebalance started at 4x raised the triangle
    pair count's per-task peak to 671 MB, against 185 MB here."""
    width = _group_width(spark)
    if spark.conf.get("spark.sql.adaptive.enabled").lower() == "true":
        return _PAIR_WIDTH_FACTOR * width
    return width


def partition_groups(rows: DataFrame, group: str) -> DataFrame:
    """``rows`` hash-partitioned on ``group`` at the group width: the
    partitioning the cap window and the pair self-join both ride."""
    return rows.repartition(_group_width(rows.sparkSession), group)


def cap_groups(rows: DataFrame, group: str, max_group: int) -> DataFrame:
    """``rows`` without the groups of more than ``max_group`` rows.

    ``rows`` are distinct (group, member) rows, hash-partitioned on
    ``group`` (``partition_groups``, or an exchange of the caller's own
    derivation): the window COUNT then runs inside that partitioning and
    costs no exchange.  Measured as the cheapest cap (+0.2 s at sf0.1 on
    the co-purchase pairs vs +0.6 s for a groupBy-sizes + broadcast-anti
    join, whose extra aggregation pass costs more than the window's
    in-partition sort)."""
    size = F.count(F.lit(1)).over(Window.partitionBy(group))
    return (
        rows.withColumn("df", size)
        .filter(F.col("df") <= max_group)
        .select(*rows.columns)
    )


def pair_counts(
    groups: DataFrame,
    group: str,
    member: str,
    pair: tuple[str, str],
    count: str,
) -> DataFrame:
    """(pair[0], pair[1], count): for each member pair a < b, the number
    of groups that hold both.  ``groups`` are distinct (group, member)
    rows; the self-join on ``group`` rides their group partitioning."""
    a, b = groups.alias("a"), groups.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{group}") == F.col(f"b.{group}"))
        & (F.col(f"a.{member}") < F.col(f"b.{member}")),
    ).select(F.col(f"a.{member}").alias(pair[0]), F.col(f"b.{member}").alias(pair[1]))
    return count_pairs(pairs, count)


def count_pairs(pairs: DataFrame, count: str) -> DataFrame:
    """Count the rows of a two-column pair stream per pair.

    The pairs go through a pair-keyed exchange BELOW the count, so the
    join stage hash-routes pair rows straight to the shuffle and each
    reduce task counts only its own pairs.  A plain groupBy plans a
    map-side partial aggregate instead, and that combines almost nothing:
    a pair sharing n groups lands in ~n different group partitions.  At
    the x256 replica it combined 2.0G winnow pair rows only to 793M while
    its hash map outgrew the task's memory share and fell back to
    sort-based aggregation, re-sorting the whole stream (90.5 GB of
    memory spill on dedup_winnow_spans, 27.9 GB each on the Jaccard and
    containment pair stages)."""
    keys = pairs.columns
    return (
        pairs.repartition(_pair_width(pairs.sparkSession), *keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(count))
    )
