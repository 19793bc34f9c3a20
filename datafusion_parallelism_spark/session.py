"""Session factory + table registrar.

Analog of the reference's session assembly (``src/parse_sql.rs:37-54`` —
postgres dialect, ``target_partitions``, custom physical rules appended) and
its table registration loop (``tpc/src/main.rs:198-224`` — every parquet
file/dir in a data directory becomes a queryable table).

Where the reference appends two custom physical optimizer rules
(UseParallelHashJoinRule / UseWorkStealingRepartitionRule), the Spark-native
equivalent is configuration: AQE (runtime re-planning + skew-join splitting)
replaces the work-stealing repartition, and Spark's join selection
(broadcast/shuffled-hash/sort-merge by size + stats) replaces the hash-join
rewrite rule.  See ``plans/shaping.py`` for per-query plan forcing.
"""

from __future__ import annotations

import os
from typing import Collection

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Size of Spark's compiled-class cache (``spark.sql.codegen.cache.maxEntries``,
#: default 100).  The seven ``sql_sf0.01`` benchmark queries alone generate
#: 124 distinct classes, so at the default a loop over them evicted each
#: class before its next use and Janino recompiled ~97 of them on every
#: warm pass.  The whole registry at sf0.01 generates 1,583, so 2000 holds
#: all of them: a warm pass over the seven compiles 0, over the registry 1
#: (down from 1,941).  Only classes a session generates are held; caching
#: the whole registry's took 13 MB more Metaspace (219.6 MB against
#: 206.2 MB at the default, after two registry passes).
CODEGEN_CACHE_ENTRIES = 2000


def default_cpus() -> int:
    """Task slots of a local session: ``SPARK_GRAFT_CPUS`` if set, else the
    number of cores this process may run on (its affinity mask)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def dir_size(sf_dir: str) -> int:
    """Total bytes of the data files under ``sf_dir`` (1 level deep)."""
    total = 0
    try:
        for name in os.listdir(sf_dir):
            p = os.path.join(sf_dir, name)
            if os.path.isfile(p):
                total += os.path.getsize(p)
            elif os.path.isdir(p):
                for f in os.listdir(p):
                    total += os.path.getsize(os.path.join(p, f))
    except OSError:
        pass
    return total


def path_size(path: str) -> int:
    """Bytes of one data file, or of every file directly under a dir."""
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        )
    except OSError:
        return 0


#: Below this input size, AQE's stage-by-stage re-planning latency exceeds
#: any benefit (coalescing/skew-splitting are no-ops on MBs of data) —
#: measured ~15% of headline wall at sf0.1.  Above it, AQE stays on (the
#: 100 TB posture: runtime coalescing + skew-join splitting).
AQE_MIN_INPUT_BYTES = 256 * 1024 * 1024


def auto_shuffle_partitions(
    sf_dir: str,
    cpus: int | None = None,
    target_bytes: int = 32 * 1024 * 1024,
) -> int:
    """Data-proportional shuffle-partition count.

    Policy, by input bytes:

    * below ~4 MB × cores: ``ceil(total / 4 MB)`` reducers (the occupancy
      floor), so 1.9 MB of input gets 1;
    * above that: one per ~32 MB, never fewer than one per core;
    * capped at 4 × cores.

    The bytes rule is what holds at 100 TB: partitions grow linearly with
    data (so no partition exceeds executor memory), the 4×cores ceiling
    keeps full-cluster utilization with task-scheduling overhead bounded,
    and AQE coalescing trims the remainder at runtime.

    The occupancy floor matters in the mid range (tens–hundreds of MB,
    below the AQE gate): ``min(cores, ceil(total / 4 MB))`` — once there
    is ≥4 MB of input per core, every core gets a shuffle task.  Without
    it the bytes rule schedules e.g. 3 reducers for 73 MB on 32 cores
    (measured 2–4× slowdown on join-heavy queries at that size).  On tiny
    inputs it follows the data down to one reducer.  At sf0.01 (1.9 MB) on
    4 cores, 1 reducer instead of a fixed floor of 4 cut a traced
    ``sql_sf0.01`` pass from 82 to 38 tasks, summed stage run time from
    1005 to 512 ms and the largest stage peak execution memory from 185.6
    to 50.6 MB, with the same 24 jobs; perfbench's ``pass_cpu_s`` fell
    3.33 → 2.84 s (medians of 20 alternating pairs, lower in 19).
    Scheduling 32 reducers for 5 MB cost more than the shuffle itself
    (measured 1.6–1.8× on the sf0.1 headline set).
    """
    cpus = cpus or default_cpus()
    total = dir_size(sf_dir)
    if total == 0:
        return cpus
    occupancy_floor = min(cpus, -(-total // (4 * 1024 * 1024)))
    return max(occupancy_floor, min(4 * cpus, -(-total // target_bytes)))


def get_spark(
    app_name: str = "datafusion-parallelism-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale posture: these settings are chosen so the same logical plans that
    pass correctness at sf0.01 remain the *right* plans on a 1000-executor
    cluster at 100 TB:

    * AQE on — runtime coalescing of small shuffle partitions, skew-join
      splitting (the Spark answer to the reference's work-stealing
      repartition), and dynamic join-strategy switching.
    * ``autoBroadcastJoinThreshold`` left at default (10 MB) so dimension
      tables (region/nation/supplier at any SF) broadcast instead of
      shuffling the fact table.
    * Arrow enabled for the pandas-UDF path (LLM-pipeline operators).
    * Session timezone pinned to UTC so timestamp semantics are stable and
      oracle-comparable.
    """
    cpus = default_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # A static SQL conf, read once per JVM when CodeGenerator
        # initializes, so it must be set before the context exists.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The Arrow kernels' functions are pickled by reference, so every
        # Python worker must import this package: workers merge this into
        # their PYTHONPATH, so a driver started outside the repository root
        # still runs the kernels.
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        # Found through that same path: the stock daemon, except that its
        # workers stop re-reading pyspark.zip at every task (~0.15 s of CPU
        # per warm task; see worker_daemon).
        .config("spark.python.daemon.module", "datafusion_parallelism_spark.worker_daemon")
        # In local mode the driver heap IS the whole cluster's memory: all
        # 32 executor threads share it for partial-agg hash maps, joins and
        # broadcasts.  8g on this 128 GiB box under-provisioned exactly the
        # way "spill-aware" sizing warns about — at 1.15 GB input (x64
        # replica) the Expand-doubled COUNT(DISTINCT) partial maps spilled
        # and agg_count_distinct went 2.6 s → 82.6 s (32× for 2× data,
        # docs/scale_sweep_r3.jsonl).  24g restores linear scaling; on a
        # real cluster this is executor memory scaling with cores/task.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
        # Static size estimates for file relations are COMPRESSED bytes
        # (fileCompressionFactor default 1.0); snappy parquet of numeric
        # columns decompresses 4-8x, so a "10 MB" estimate can be a 60 MB,
        # multi-million-row in-memory HashedRelation built single-threaded
        # on the driver — and an OOM at 100x.  Factor 6 makes the static
        # broadcast decision see ~in-memory size (dims still broadcast:
        # they are KBs; borderline fact-side broadcasts correctly shuffle).
        .config("spark.sql.sources.fileCompressionFactor", "6")
        # ...while AQE may still convert a shuffle join to broadcast at
        # RUNTIME, where the size is the actual shuffle bytes, not an
        # estimate — a 64 MB known-size broadcast is safe and beats a
        # second shuffle.  (Static stays at 10 MB estimated; runtime gets
        # the bigger allowance precisely because it cannot be wrong.)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
        # AQE coalescing with the DEFAULT 64 MB advisory merges shuffle
        # partitions down to one wave of maximum-size sort tasks.  On
        # join_inner_chain at the x256 replica that packed a 1.66 GB zstd
        # exchange into ~37 tasks whose sorts decompressed to ~250 MB each;
        # with every core holding one, peak execution memory hit the entire
        # unified pool and the SMJ reduce stage spilled 5.4 GB (memory) /
        # 1.5 GB (disk) — the ×2.81 super-linear x128→x256 leg of VERDICT
        # r8 item 1.  x128 fit and spilled ZERO (docs/decomp_chain_r9.jsonl:
        # the only metric that flips between the factors).  A 16 MB advisory
        # bounds per-task sort state regardless of data volume: partitions
        # per stage GROW with data (waves of small sorts) rather than
        # growing per-task state.  16 MB compressed ≈ 5× decompression +
        # sorter pointer overhead ≈ 120 MB/task, comfortably inside this
        # box's ~450 MB/core execution share — the same arithmetic holds on
        # any sane executor (memory/core ≫ advisory × codec ratio).  Paired
        # interleaved A/B at x256: median −29% wall and the baseline's wild
        # 29.6–64.1 s spill-driven variance collapses (probe.py
        # --paired-conf, 2026-08-16).
        #
        # parallelismFirst stays at its TRUE default — the r9 fix first
        # shipped with parallelismFirst=false, which sets Spark's coalesce
        # minNumPartitions to 1 so target size = advisory FLAT; every
        # sub-512 MB exchange (advisory × defaultParallelism) then
        # coalesces below one task per core and small/mid queries ran
        # 1.4–2.8× slower at the x64 replica than the r8 audit (the r10
        # full-registry audit caught it; docs/full_registry_x64_r10_notes.md).
        # With parallelismFirst=true, target = max(min(total/parallelism,
        # advisory), 1MB): small exchanges keep one-task-per-core waves and
        # big exchanges still cap at the 16 MB advisory, so the spill bound
        # is STRICTLY preserved (target_true ≤ target_false for the same
        # advisory).  Paired-conf A/Bs: x64 regressed queries −13/-16/-19/-31%
        # with true; x256 join_inner_chain 0.976 (identical plans, spill
        # stays zero) and x256 dedup_winnow_spans 1.088 (true also faster);
        # docs/chain_paired_r10.jsonl.  The AQE_MIN_INPUT_BYTES gate applies
        # to benchmark_session (measurement posture) only; driver/
        # correctness sessions built by get_spark keep AQE on at every
        # scale, so they do pick these up — harmless for correctness.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB")
        # ContextCleaner can only release finished broadcasts/shuffle files
        # after a DRIVER GC collects their references; the 30-minute default
        # means a long-lived session accumulates them across queries
        # (measured ~5% drag on a repeated join-heavy workload at 288 MB).
        .config("spark.cleaner.periodicGC.interval", "45s")
        # ns-timestamp parquet columns read as long nanos; sources/parquet.py
        # casts them back to TimestampType at the scan.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 32 task threads decompressing parquet hold JNI critical sections
        # (GCLocker) almost continuously at GB-scale inputs; the JVM's
        # default of 2 GCLocker retries made tiny allocations ("3 words")
        # fail with "Retried waiting for GCLocker too often" and killed the
        # executor mid-query at the x128 replica (2.3 GB) regardless of
        # heap size.  Raising the retry budget is the documented mitigation
        # (JDK G1 GCLocker starvation); it costs nothing when uncontended.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=128",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def benchmark_session(
    sf_dir: str,
    app_name: str = "bench",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session tuned for measuring queries over ``sf_dir`` — the ONE place
    both harnesses (bench.py, runner.py) get their measurement config:

    * shuffle partitions sized to the data (auto_shuffle_partitions),
      pinned as a runtime conf too (getOrCreate ignores builder confs on
      an existing session);
    * AQE disabled below AQE_MIN_INPUT_BYTES — its per-stage re-planning
      latency dominates on MB-scale inputs where its coalesce/skew
      benefits are no-ops (measured ~15% of headline wall at sf0.1);
    * log level ERROR so harness stdout stays parseable.

    ``extra_conf`` is forwarded to :func:`get_spark` builder confs — only
    effective when this call CREATES the session (getOrCreate semantics);
    bench.py uses it to push the periodic context-cleaner GC outside its
    measured windows.
    """
    n_shuffle = auto_shuffle_partitions(sf_dir)
    # Shuffle/spill codec, size-gated like AQE.  Evidence is the round-7
    # PAIRED 4-run A/B (docs/scale_sweep_r7.jsonl ab-r7-* rows, BASELINE.md
    # §Shuffle-codec): at x256 zstd cut the shuffle-bound winnow exec half
    # −20% (consistent 4/4) and totals −7.6%, with pagerank within noise,
    # while at sf0.1 it is noise-level on sub-second walls — so large
    # inputs get zstd, small ones keep lz4's lower CPU.  Codec is a
    # context-creation conf: like every extra_conf entry it only takes
    # effect when THIS call creates the session (getOrCreate semantics),
    # which holds for the one-process-per-measurement harnesses.
    extra_conf = dict(extra_conf or {})
    want_zstd = dir_size(sf_dir) >= AQE_MIN_INPUT_BYTES
    if want_zstd:
        extra_conf.setdefault("spark.io.compression.codec", "zstd")
    spark = get_spark(
        app_name=app_name, shuffle_partitions=n_shuffle, extra_conf=extra_conf
    )
    # Unlike the AQE gate below (a runtime conf, corrected both directions),
    # the codec CANNOT be changed on a live context — so when getOrCreate
    # reused a session whose codec disagrees with this sf_dir's gated
    # choice, say so loudly instead of silently measuring the wrong codec.
    actual_codec = spark.sparkContext.getConf().get(
        "spark.io.compression.codec", "lz4"
    )
    wanted_codec = extra_conf.get("spark.io.compression.codec", "lz4")
    if actual_codec != wanted_codec:
        import warnings

        warnings.warn(
            f"benchmark_session: reused SparkContext has "
            f"spark.io.compression.codec={actual_codec} but the size gate "
            f"for {sf_dir} wants {wanted_codec}; codec is fixed at context "
            f"creation — restart the process for a like-for-like measurement",
            RuntimeWarning,
            stacklevel=2,
        )
    spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
    # Set BOTH directions: getOrCreate reuses sessions, so a small-data
    # call must not leak AQE=off into a later large-data session.
    spark.conf.set(
        "spark.sql.adaptive.enabled",
        "true" if dir_size(sf_dir) >= AQE_MIN_INPUT_BYTES else "false",
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def est_scan_partitions(total_bytes: int, parallelism: int) -> int:
    """Estimate how many input splits Spark's file source will produce for
    ``total_bytes`` of data — the same arithmetic as
    ``FilePartition.maxSplitBytes`` (maxPartitionBytes 128 MB,
    openCostInBytes 4 MB, bytesPerCore = total/defaultParallelism):
    ``splits = ceil(total / min(128 MB, max(4 MB, bytesPerCore)))``.

    Pure driver-side arithmetic — no RDD conversion, no py4j round-trip.
    """
    if total_bytes <= 0:
        return 1
    bytes_per_core = total_bytes // max(1, parallelism)
    split = min(128 * 1024 * 1024, max(4 * 1024 * 1024, bytes_per_core))
    return -(-total_bytes // split)


def parquet_scan_tasks(path: str, parallelism: int) -> int:
    """Effective parallelism of scanning a parquet table: the byte-range
    split estimate CAPPED BY THE ROW-GROUP COUNT.

    ``est_scan_partitions`` alone over-estimates on files whose row groups
    are larger than the split size: Spark still cuts the byte range into
    splits, but a row group is consumed whole by the split containing its
    start offset, so at most ``num_row_groups`` tasks carry data and the
    rest are empty.  Measured cliff (round 7): the x256 replica's
    documents.parquet is 143 MiB -> 33 estimated splits (>= 32 cores, so
    spread_for_compute skipped the repartition) but only 11 row groups ->
    the gram explode ran on 11 of 32 cores with 2x per-task data, turning
    a pure map stage x3.9 super-linear (19.7 -> 77.1 s) between x128 and
    x256.  The footer read is driver-local pyarrow (no py4j, ~ms) — same
    cost class as the os.stat the byte estimate already does.

    ``path`` may be a directory of part files (register_tables/load support
    that layout): row groups are summed across its ``*.parquet`` members,
    so the cap holds on partitioned corpora too instead of silently falling
    back to the bytes-only estimate (round-8 fix; previously a directory
    input re-opened the r7 empty-split cliff unnoticed)."""
    splits = est_scan_partitions(path_size(path), parallelism)
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            members = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
                and os.path.isfile(os.path.join(path, f))
            ]
            if not members:
                return splits
            groups = sum(
                pq.ParquetFile(m).metadata.num_row_groups for m in members
            )
        else:
            groups = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:  # noqa: BLE001 — non-parquet / unreadable: bytes rule
        return splits
    return max(1, min(splits, groups))


def parquet_num_rows(path: str) -> int | None:
    """Row count of a parquet file (or directory of part files) from its
    footer metadata — pure driver-side pyarrow, no Spark job.  ``None``
    when the path is unreadable/non-parquet, so callers can treat the
    count as an optional planning hint."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            members = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
                and os.path.isfile(os.path.join(path, f))
            ]
            if not members:
                return None
            return sum(pq.ParquetFile(m).metadata.num_rows for m in members)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — hint only; callers handle None
        return None


def spread_for_compute(
    df: DataFrame, input_path: str, target: int | None = None
) -> DataFrame:
    """Round-robin repartition iff the plan currently has fewer partitions
    than the cluster has cores — use before CPU-bound per-row stages
    (interpreted HOFs, pandas UDFs over text).

    Why: scan parallelism is byte-proportional and row-group-bounded, but
    compressed text corpora are tiny on disk relative to their compute (a
    9 MB parquet file = 3 row groups = 3 tasks on 32 cores).  When the
    scan already yields ≥cores partitions (any real data size), this is a
    no-op — no shuffle is added at scale.

    ``input_path`` names the parquet file or directory being scanned: the
    split estimate is capped by its row-group count
    (``parquet_scan_tasks``) — byte-range splits beyond the row-group
    count are EMPTY tasks, and treating them as parallelism skips the
    repartition exactly when a big-row-group text corpus needs it most
    (round-7 x256 cliff; see ``parquet_scan_tasks``).  The estimate is a
    driver-local file stat + footer read, with no per-call py4j
    RDD-conversion cost."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if parquet_scan_tasks(input_path, sc.defaultParallelism) < target:
        return df.repartition(target)
    return df


def force_execute(df: DataFrame) -> None:
    """Run a DataFrame's full plan without materializing rows on the
    driver (noop sink) — the measurement convention of both harnesses."""
    df.write.format("noop").mode("overwrite").save()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently persisted RDDs (JavaSparkContext.getPersistentRDDs)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {e.getKey() for e in jmap.entrySet().toArray()}


def release_persisted(
    spark: SparkSession, keep_ids: Collection[int] = frozenset()
) -> None:
    """Unpersist every persisted RDD not in ``keep_ids`` (blocking).

    localCheckpoint marks its RDD persisted (MEMORY_AND_DISK); once the
    last plan referencing it is dropped the blocks are garbage, but the
    release path (Python finalizer → py4j → ContextCleaner queue) is too
    slow to matter inside a measurement session.  At GB-scale inputs the
    accumulated blocks cause block-manager eviction churn that inflated
    late-position queries 2-3× (x256 sweep: tpch_q18 38.1 s in-session vs
    20.7 s fresh-session, identical at 24 g and 64 g heap).  Harnesses
    that run many queries in one session call this between queries,
    strictly off any measurement clock; pass ``keep_ids`` from
    ``persistent_rdd_ids`` to protect deliberately cached tables
    (from_memory mode)."""
    from py4j.protocol import Py4JJavaError

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for e in jmap.entrySet().toArray():
        if e.getKey() not in keep_ids:
            try:
                e.getValue().unpersist(True)
            except Py4JJavaError:  # already released concurrently is fine;
                pass  # anything non-JVM (connection death) propagates


#: (session id, table name) -> (sf_dir, DataFrame) for views already
#: registered — every SQL-entry query calls register_tables, and without the
#: memo each call re-issues ~2 py4j roundtrips per table (scan + view DDL),
#: a fixed cost that dominates small-scale measurements.
_REGISTERED: dict[tuple[int, str], tuple[str, DataFrame]] = {}

#: (session id, parquet path) -> scan DataFrame, for load() below.
_LOADED: dict[tuple[int, str], DataFrame] = {}


def _evict_stopped_sessions() -> None:
    """Drop memo entries whose session has been stopped — otherwise they pin
    DataFrames (and whole SparkSessions) for the process lifetime, and the
    dicts grow unboundedly across sessions in long test runs."""
    for key, (_, df) in list(_REGISTERED.items()):
        try:
            alive = df.sparkSession._sc._jsc is not None
        except Exception:
            alive = False
        if not alive:
            _REGISTERED.pop(key, None)
    for key, df in list(_LOADED.items()):
        try:
            alive = df.sparkSession._sc._jsc is not None
        except Exception:
            alive = False
        if not alive:
            _LOADED.pop(key, None)


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Register every parquet table under ``sf_dir`` as a temp view.

    Mirrors ``tpc/src/main.rs:198-224``: each ``<name>.parquet`` file (or
    directory of part files) in the data dir becomes table ``<name>``.
    Missing files are skipped so the registrar also works on partial dirs.
    Idempotent per (session, sf_dir): repeat calls for views that already
    point at the same data dir are memoized driver-side.
    """
    _evict_stopped_sessions()
    out: dict[str, DataFrame] = {}
    key_base = id(spark)
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        cached = _REGISTERED.get((key_base, name))
        if (
            cached is not None
            and cached[0] == sf_dir
            and cached[1].sparkSession is spark
            # The view may have been dropped/replaced outside this registrar;
            # one catalog probe is still far cheaper than scan build + DDL.
            and spark.catalog.tableExists(name)
        ):
            out[name] = cached[1]
            continue
        df = load(spark, sf_dir, name)  # shares the scan memo with load()
        df.createOrReplaceTempView(name)
        _REGISTERED[(key_base, name)] = (sf_dir, df)
        out[name] = df
    return out


def sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """``spark.sql(text)`` over the tables of ``sf_dir`` registered as
    views — the reference's ``ctx.sql`` entry point."""
    register_tables(spark, sf_dir)
    return spark.sql(text)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (scan stays lazy; Catalyst prunes).

    Memoized per (session, path): ``spark.read.parquet`` spends ~60 ms of
    driver-side schema inference per call, which the fresh-plan-per-pass
    bench protocol would otherwise pay per table per measured pass.
    Reusing the scan RELATION matches the reference's timing boundary —
    ``tpc/src/main.rs:198-224`` registers each parquet table exactly once
    BEFORE any query timer starts — and DataFrames are immutable, so the
    shared object cannot leak state between queries.
    """
    from .sources.parquet import read_parquet

    _evict_stopped_sessions()
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (id(spark), path)
    df = _LOADED.get(key)
    # `is spark` guards id() reuse after a stopped session is GC'd.
    if df is not None and df.sparkSession is spark:
        return df
    df = read_parquet(spark, path)
    _LOADED[key] = df
    return df
