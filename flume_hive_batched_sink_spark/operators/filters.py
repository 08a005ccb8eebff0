"""B2 — filters / predicates / projections.

Origins: A17's conjunctive WHERE (HiveSinkDetailDao.scala:42-61),
A18's IN-list (HiveSinkDetailDao.scala:64-70), A19's 3-key point
lookup (HiveSinkDetailDao.scala:73-82), A5's computed projection.
All pure Catalyst: filters push to the parquet scan, the semi-join
broadcasts its literal key side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import local_frame, query, tbl

# Synthesized bookkeeping table (FIXTURES.md "Harness notes"):
# the reference's hive_sink_detail (name, logdate, hostname, counts,
# updatetime, state) derived in-query from events.
DETAIL_SQL = """
  SELECT 'sink' AS name,
         strftime(CAST(ts AS TIMESTAMP), '%Y%m%d') AS logdate,
         'h' || CAST(user_id % 4 AS VARCHAR) AS hostname,
         event_id,
         CAST(ts AS TIMESTAMP) AS updatetime,
         value,
         'NEW' AS state
  FROM events
"""


def detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bookkeeping rows (one per event = one 'update'), Spark side."""
    ev = tbl(spark, sf_dir, "events")
    return ev.select(
        F.lit("sink").alias("name"),
        F.date_format("ts", "yyyyMMdd").alias("logdate"),
        F.concat(F.lit("h"), (F.col("user_id") % 4).cast("string")).alias(
            "hostname"
        ),
        "event_id",
        F.col("ts").alias("updatetime"),
        "value",
        F.lit("NEW").alias("state"),
    )


@query(
    "filter_state_name",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type = 'purchase' AND value > 100.0
    """,
)
def filter_state_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17's WHERE shape: conjunctive equality + range predicate,
    both pushed to the scan."""
    ev = tbl(spark, sf_dir, "events")
    return ev.select("event_id", "user_id", "event_type", "value").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100.0)
    )


@query(
    "filter_in_list",
    """
    SELECT event_id, event_type, user_id
    FROM events
    WHERE event_type IN ('signup', 'error') AND user_id % 2 = 0
    """,
)
def filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18's IN-list predicate (HiveSinkDetailDao.scala:64-70)."""
    ev = tbl(spark, sf_dir, "events")
    return ev.select("event_id", "event_type", "user_id").filter(
        F.col("event_type").isin("signup", "error") & (F.col("user_id") % 2 == 0)
    )


@query(
    "exists_key",
    f"""
    SELECT DISTINCT d.name, d.logdate, d.hostname
    FROM ({DETAIL_SQL}) d
    WHERE EXISTS (
      SELECT 1 FROM (VALUES
        ('sink', '20240101', 'h0'),
        ('sink', '20240102', 'h1'),
        ('sink', '20240115', 'h3')
      ) k(name, logdate, hostname)
      WHERE k.name = d.name AND k.logdate = d.logdate
        AND k.hostname = d.hostname
    )
    """,
)
def exists_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: 3-key existence lookup (HiveSinkDetailDao.scala:73-82) as
    a broadcast left-semi join — the batched form of N point lookups."""
    d = detail(spark, sf_dir).select("name", "logdate", "hostname").distinct()
    keys = local_frame(
        spark,
        [
            ("sink", "20240101", "h0"),
            ("sink", "20240102", "h1"),
            ("sink", "20240115", "h3"),
        ],
        "name string, logdate string, hostname string",
    )
    return d.join(F.broadcast(keys), ["name", "logdate", "hostname"], "left_semi")


@query(
    "project_compute",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CAST(l_quantity AS INT) AS qty_int,
           CAST(l_orderkey % 7 AS BIGINT) AS bucket7
    FROM lineitem
    """,
)
def project_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5-shape computed projection: row-level IEEE arithmetic is
    bit-identical across engines (no aggregation → no decimal detour)."""
    li = tbl(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        revenue.alias("revenue"),
        (revenue * (1 + F.col("l_tax"))).alias("charge"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("bucket7"),
    )
