"""Source/sink round-trips: CSV and JSON-lines through the file sinks.

Parity target: the reference's only non-parquet formats are its CSV result
sink (``tpc/src/main.rs:372-377`` ``write_csv``) and JSON results file
(``:272-278``).  These queries drive the full write→read cycle of each
format through Spark's distributed writers/readers (sinks/files.py), then
aggregate the re-read rows — the oracle computes the same aggregate
straight from the parquet table, so a hash match proves the round-trip was
lossless.

Scale posture: writes are distributed (one file per partition — the only
shape at 100 TB); reads use an EXPLICIT schema, never inference (schema
inference is a full extra pass over the data).  Staging lives under /tmp,
keyed by (format, data dir, PID) so concurrent runs — different SFs or the
driver gate racing a local pytest over the SAME dir — never collide; each
process removes its own staging dirs when it exits.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load
from ..sinks.files import remove_at_exit, write_csv, write_json
from .registry import query


def _stage(kind: str, sf_dir: str) -> str:
    # PID discriminator: two concurrent runs over the same data dir (driver
    # gate + local pytest) must not overwrite each other's staging files.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return remove_at_exit(
        os.path.join("/tmp/spark_graft_io", f"{kind}-{tag}-p{os.getpid()}")
    )


#: CSV cannot natively distinguish NULL from '' — pin explicit sentinels on
#: BOTH sides of the round-trip so empty strings read back as '' (not NULL)
#: and the oracle hash stays honest if source/lang ever contain ''.
_CSV_NULL = r"\N"


@query(
    "source_csv_roundtrip",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
    FROM documents
    GROUP BY source, lang
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CSV round-trip: project documents to typed scalar columns,
    write distributed CSV with headers, re-read with an explicit schema,
    aggregate the re-read rows.  Exercises writer partitioning, quoting,
    and typed parsing; the oracle aggregates the original parquet, so any
    row lost or value mangled in flight flips the hash."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "lang", "n_chars")
    path = _stage("csv", sf_dir)
    write_csv(d, path, options={"nullValue": _CSV_NULL})
    back = (
        spark.read.schema("doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT")
        .option("header", "true")
        .option("nullValue", _CSV_NULL)
        .csv(path)
    )
    return back.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "source_json_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS value_sum,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip: write (event_id, event_type, value) as
    distributed JSON, re-read with an explicit schema, aggregate.  JSON
    serializes doubles with full round-trip precision, so SUM over the
    re-read values matches the oracle's sum over parquet exactly (after
    the shared 2-digit rounding)."""
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _stage("json", sf_dir)
    write_json(e, path)
    back = spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(
        path
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS revenue
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip: the third columnar format in Spark's native matrix
    (parquet everywhere else, CSV/JSON above).  ORC is lossless for
    numeric/string scalars, so the re-read aggregate hash-matches the
    oracle computed straight from parquet.  Distributed write, explicit
    schema on read."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    path = _stage("orc", sf_dir)
    li.write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "l_returnflag STRING, l_linestatus STRING, l_extendedprice DOUBLE"
    ).orc(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
    )


@query(
    "source_partitioned_prune",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS value_sum
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def source_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: write events
    partitioned BY event_type (directory per value — the layout that makes
    type-filtered scans at 100 TB touch only matching files), re-read the
    partitioned table, filter to two types, aggregate.  The filter must
    prune at the DIRECTORY level (asserted on the plan in
    tests/test_io_roundtrip.py: PartitionFilters, not a post-scan
    filter)."""
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = _stage("part", sf_dir)
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )


@query(
    "source_bucketed_join",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table co-located join: both sides written bucketBy(8) on
    the join key, so the join reads bucket-aligned files and needs NO
    exchange on either side (asserted in tests/test_data_layout.py and
    test_io_roundtrip.py) — at 100 TB this is the difference between
    re-shuffling the fact table on every join and shuffling once at
    write time.  The aggregate's oracle runs on the original parquet, so
    the bucketed write→read cycle is also proven lossless."""
    import shutil

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    # PID-suffixed table names: concurrent processes sharing one catalog
    # must not drop or overwrite each other's bucketed tables mid-read.  The
    # tables are external, with their files in this run's staging dir, so
    # nothing is left in the working directory's spark-warehouse.
    t_orders = f"rt_b_orders_p{os.getpid()}"
    t_customer = f"rt_b_customer_p{os.getpid()}"
    for t, side, key in ((t_orders, orders, "o_custkey"), (t_customer, customer, "c_custkey")):
        path = _stage(f"bucketed_{key}", sf_dir)
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(path, ignore_errors=True)
        side.write.bucketBy(8, key).mode("overwrite").option("path", path).saveAsTable(t)
    o = spark.table(t_orders)
    c = spark.table(t_customer)
    # merge hint: at toy SF the optimizer would broadcast (also fine, but
    # then nothing exercises the bucket layout); SMJ over bucket-aligned
    # files is the co-located path this query exists to prove.
    j = o.hint("merge").join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
