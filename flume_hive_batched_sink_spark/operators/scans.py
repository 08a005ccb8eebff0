"""B1 — sources / sinks / scans.

Spark-first dispositions of the reference's scan+land surface:
- `scan_parquet` / `scan_pruned`: A1/A6 — column pruning and filter
  pushdown reach the parquet reader (check: `.explain` shows
  ReadSchema with only selected columns and PushedFilters).
- `ingest_parse_text`: A5 — whole-column `from_json`/split parsing,
  the Spark inversion of TextDeserializer.scala:44-68's
  row-at-a-time serde.
- `partition_route`: A3/A4 — BucketPath `%Y%m%d%H%M` escaping +
  rounding (HiveBatchedSink.scala:311-315, 258-271) as a pure
  codegen'd column.
- `partition_spec_parse`: A13 — HiveUtils.scala:126-139.
- `sink_partitioned_write`: A3/A7/A12 — partitioned columnar write +
  automatic partition registration, then a read-back audit count per
  partition (what the reference's bookkeeping table tracked).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.partition import (
    derive_logdate,
    partition_spec_value,
    partition_spec_values,
)
from ..sources.parse import parse_column
from .pipeline import sql_logdate
from .registry import hex_int, query, scoped_session, sql_hex_int, tbl

from ..scratch import SCRATCH


@query(
    "scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_returnflag
    FROM lineitem
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection-only scan; ReadSchema must contain just 4 columns."""
    return tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"
    )


@query(
    "scan_pruned",
    """
    SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
      AND l_quantity > 45
    """,
)
def scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range filter pushed to the parquet row-group level."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    )


@query(
    "ingest_parse_text",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           string_split(concat(event_type, '|', CAST(user_id AS VARCHAR)), '|')[1]
             AS d_event_type,
           CAST(string_split(concat(event_type, '|', CAST(user_id AS VARCHAR)), '|')[2]
             AS BIGINT) AS d_user_id
    FROM events
    """,
)
def ingest_parse_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serde surface (A5): JSON parse of the props payload plus a
    delimited-text round trip through the registered 'delimited'
    parser — the two builtin serde shapes."""
    ev = tbl(spark, sf_dir, "events")
    # concat_ws DROPS null fields (shifting later ones) where the
    # oracle's `||` nulls the whole line — equivalent only because
    # the fixture guarantees non-null event_type/user_id. For nullable
    # sources, coalesce each field before serializing.
    raw = ev.withColumn(
        "body", F.concat_ws("|", F.col("event_type"), F.col("user_id"))
    )
    parsed = raw.select(
        "event_id",
        parse_column("props", "json", "k int").getField("k").alias("k"),
        parse_column(
            "body", "delimited", "d_event_type string, d_user_id bigint",
            delimiter="\\|",
        ).alias("d"),
    )
    return parsed.select("event_id", "k", "d.d_event_type", "d.d_user_id")


@query(
    "ingest_csv_serde",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
)
def ingest_csv_serde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV serde round-trip through the registered 'csv' parser
    (`from_csv` under the hood): rows are serialized to CSV lines and
    parsed back to typed columns — the whole-batch inversion of the
    reference's per-event CSV deserializer (TextDeserializer.scala:
    44-68 family). The oracle is the identity projection: the round
    trip must be lossless (doubles print as shortest-repr strings and
    parse back bit-exact; JVM codegen end-to-end, no shuffle)."""
    o = tbl(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_totalprice").cast("string"),
    )
    parsed = o.select(
        parse_column(
            line,
            "csv",
            "o_orderkey bigint, o_custkey bigint, "
            "o_orderstatus string, o_totalprice double",
        ).alias("r")
    )
    return parsed.select("r.*")


@query(
    "partition_route",
    f"""
    SELECT event_id, {sql_logdate('CAST(ts AS TIMESTAMP)')} AS logdate,
           {sql_logdate('CAST(ts AS TIMESTAMP)', 3600)} AS loghour
    FROM events
    """,
)
def partition_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: derive the time-bucketed routing column (5-min and 1-h)."""
    ev = tbl(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        derive_logdate("ts", 300).alias("logdate"),
        derive_logdate("ts", 3600).alias("loghour"),
    )


@query(
    "partition_spec_parse",
    """
    SELECT spec,
           regexp_extract(spec, '(?:^|/)logdate=([^/]*)', 1) AS logdate_val,
           array_to_string(
             list_transform(string_split(spec, '/'),
                            p -> string_split(p, '=')[2]), ',') AS all_vals
    FROM (
      SELECT concat('logdate=', strftime(CAST(ts AS TIMESTAMP), '%Y%m%d'),
                    '/host=h', CAST(user_id % 4 AS VARCHAR)) AS spec
      FROM events
    ) t
    """,
)
def partition_spec_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: parse `k1=v1/k2=v2` partition specs (synthesized from
    events) with regexp_extract + higher-order transform — no UDF."""
    ev = tbl(spark, sf_dir, "events")
    specs = ev.select(
        F.concat(
            F.lit("logdate="),
            F.date_format("ts", "yyyyMMdd"),
            F.lit("/host=h"),
            (F.col("user_id") % 4).cast("string"),
        ).alias("spec")
    )
    return specs.select(
        "spec",
        partition_spec_value("spec", "logdate").alias("logdate_val"),
        F.array_join(partition_spec_values("spec"), ",").alias("all_vals"),
    )


@query(
    "sink_partitioned_write",
    f"""
    SELECT {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY 1
    """,
)
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A7/A12 — the reference's whole landing job, batch form:
    route events into hourly partitions, write columnar files
    partitioned by `logdate`, then read the table back and audit
    per-partition counts (the numbers the reference's bookkeeping
    table tracked, UpdateSinkDetailCallback.scala:29-58).

    Scale note: `repartition(logdate)` before the write gives one
    task per partition bucket → no small-file explosion at 100 TB
    (§4 "partition-wise file clustering"). Daily buckets keep the
    sf0.01 partition count sane (~30 meaty partitions — hourly gave
    720 dirs of ~14 rows, small-file explosion in miniature and ~6×
    the wall time in writer/commit overhead); hourly/5-min are
    config knobs (SinkConfig.round_*).
    """
    ev = tbl(spark, sf_dir, "events")
    routed = ev.withColumn("logdate", derive_logdate("ts", 86400))
    out = os.path.join(SCRATCH, "sink_partitioned_write")
    (
        routed.repartition("logdate")
        .write.mode("overwrite")
        .partitionBy("logdate")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(F.col("logdate").cast("string").alias("logdate")).agg(
        F.count("*").alias("n_rows")
    )


@query(
    "sink_orc_write",
    f"""
    SELECT {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY 1
    """,
)
def sink_orc_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 in the reference's own storage format: the same partitioned
    landing job writing ORC (HiveBatchedWriter.scala:28-32 creates
    ORC writers), then a read-back audit. Spark's vectorized ORC
    reader/writer make parquet↔orc a format flag — the plan, the
    partition routing, and the commit protocol are identical."""
    ev = tbl(spark, sf_dir, "events")
    routed = ev.withColumn("logdate", derive_logdate("ts", 86400))
    out = os.path.join(SCRATCH, "sink_orc_write")
    (
        routed.repartition("logdate")
        .write.mode("overwrite")
        .partitionBy("logdate")
        .orc(out)
    )
    back = spark.read.orc(out)
    return back.groupBy(F.col("logdate").cast("string").alias("logdate")).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "scan_static_prune",
    f"""
    SELECT event_id, event_type,
           {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate
    FROM events
    WHERE {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} =
          (SELECT MIN({sql_logdate('CAST(ts AS TIMESTAMP)', 86400)})
           FROM events)
    """,
)
def scan_static_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static partition pruning — the complement of `scan_dpp_join`:
    a literal predicate on the partition column prunes directories at
    PLAN time (`PartitionFilters` in the scan, zero I/O for other
    partitions; asserted in PLANCHECK.json). The partition value is
    the user-supplied key of the at-scale pattern ("reprocess day X");
    here it's the earliest landed day, fetched as ONE scalar — the
    bounded kind of driver round-trip, not a data collect."""
    ev = tbl(spark, sf_dir, "events")
    routed = ev.withColumn("logdate", derive_logdate("ts", 86400))
    out = os.path.join(SCRATCH, "scan_static_prune")
    (
        routed.repartition("logdate")
        .write.mode("overwrite")
        .partitionBy("logdate")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    lo = back.agg(F.min("logdate")).first()[0]
    return back.filter(F.col("logdate") == F.lit(lo)).select(
        "event_id",
        "event_type",
        F.col("logdate").cast("string").alias("logdate"),
    )


_SQL_BOTH_DIALECTS = """
SELECT n.n_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
HAVING COUNT(*) > 1
"""


@query("sql_interface", _SQL_BOTH_DIALECTS)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: the catalog registers every table as
    a temp view and the IDENTICAL SQL text runs on both Spark and the
    DuckDB oracle (the query sticks to the common ANSI subset).
    Catalyst plans it exactly like the DataFrame formulation — same
    broadcasts, same two-phase aggregate."""
    from ..catalog import load_tables

    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_SQL_BOTH_DIALECTS)


_SQL_EXISTS_SUBQUERY = """
SELECT c.c_custkey, c.c_name, CAST(c.c_nationkey AS BIGINT) AS c_nationkey
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_totalprice > 150000)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F')
  AND c.c_nationkey IN (SELECT n_nationkey FROM nation
                        WHERE n_regionkey <= 2)
"""


@query("sql_exists_subquery", _SQL_EXISTS_SUBQUERY)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery SQL surface: EXISTS / NOT EXISTS / IN
    predicates over the ANSI text interface — the existence probe the
    reference issues against its bookkeeping table
    (HiveSinkDetailDao.scala:73-82, A19) generalized to correlated
    form. The IDENTICAL SQL text runs on Spark and the DuckDB oracle
    (sql_interface pattern).

    Scale shape: Catalyst de-correlates all three predicates into
    joins rather than re-executing the subquery per row — EXISTS and
    IN become LeftSemi joins, NOT EXISTS a LeftAnti join, each a
    plain hash join on the correlation key that AQE can broadcast
    when the probe side is small (plan-asserted in PLANCHECK: two
    semi + one anti, zero SubqueryExec re-executions). At 100 TB the
    orders side shuffles once on o_custkey and serves both the EXISTS
    and NOT EXISTS probes; no nested-loop anywhere."""
    from ..catalog import load_tables

    load_tables(spark, sf_dir, register_views=True)
    return spark.sql(_SQL_EXISTS_SUBQUERY)


@query(
    "ingest_bad_records",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN event_id % 10 = 0 THEN 0
                         ELSE CAST(json_extract_string(props, '$.k') AS INT)
                    END) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def ingest_bad_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input robustness (the reference's serde could throw
    mid-batch and roll back the whole transaction,
    HiveBatchedSink.scala:348-357; the Spark path degrades per-row
    instead): every 10th event's props is mangled into invalid JSON;
    `from_json` yields NULL for those rows (PERMISSIVE semantics), and
    the audit counts corrupt rows per category — no exception, no
    batch rollback, bad rows quarantined by predicate."""
    ev = tbl(spark, sf_dir, "events")
    mangled = ev.withColumn(
        "props_dirty",
        F.when(
            F.col("event_id") % 10 == 0,
            F.concat(F.lit("NOT_JSON<"), F.col("props")),
        ).otherwise(F.col("props")),
    )
    # PERMISSIVE from_json yields a struct with NULL fields (not a
    # NULL struct) on malformed input — detect corruption on the field
    parsed = mangled.withColumn(
        "parsed", F.from_json("props_dirty", "k int")
    ).withColumn(
        # null-k as the corruption signal matches the oracle's
        # event_id%10 rule only because every clean fixture row
        # carries a non-null integer k; a source where 'k' is
        # legitimately optional needs _corrupt_record instead
        "is_corrupt",
        F.col("parsed.k").isNull(),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("is_corrupt"), 1).otherwise(0)).alias("n_corrupt"),
        F.sum(F.when(F.col("is_corrupt"), 0).otherwise(F.col("parsed.k"))).alias(
            "sum_k"
        ),
    )


@query(
    "sink_table_partitions",
    f"""
    SELECT DISTINCT concat('logdate=', {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)})
      AS partition_spec
    FROM events
    """,
)
def sink_table_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 — automatic partition registration
    (AddPartitionCallback.scala:25-34 + HiveUtils.scala:42-69): a
    partitioned `saveAsTable` registers every partition in the
    session catalog as part of the commit, and SHOW PARTITIONS reads
    them back — the metastore add_partition RPC collapsed into the
    write protocol. Daily buckets; the audit returns the registered
    partition specs (`k=v` strings, A13's format)."""
    ev = tbl(spark, sf_dir, "events")
    routed = ev.withColumn("logdate", derive_logdate("ts", 86400))
    spark.sql("DROP TABLE IF EXISTS events_registered")
    (
        routed.repartition("logdate")
        .write.mode("overwrite")
        .option("path", os.path.join(SCRATCH, "events_registered"))
        .partitionBy("logdate")
        .format("parquet")
        .saveAsTable("events_registered")
    )
    return spark.sql("SHOW PARTITIONS events_registered").select(
        F.col("partition").alias("partition_spec")
    )


@query(
    "scan_dpp_join",
    f"""
    WITH routed AS (
      SELECT {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate,
             user_id
      FROM events
    )
    SELECT logdate, COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM routed
    WHERE CAST(substr(logdate, 7, 2) AS INT) <= 3
    GROUP BY logdate
    """,
)
def scan_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a dim-side filter prunes FACT
    PARTITIONS at runtime. The landed events table is partitioned by
    logdate on disk; the dim (a derived calendar keeping days 1-3)
    joins on the partition column, and Catalyst injects a runtime
    `dynamicpruning` subquery into the fact scan so only 3 of ~30
    partition directories are read — on a 100 TB warehouse this is
    the difference between scanning 3 days and scanning everything.
    The dim filter (`dayofmonth <= 3` over a string-coded logdate)
    is deliberately NOT statically pushable into the fact scan.
    Plan property (`PartitionFilters: [... dynamicpruning ...]`) is
    asserted in tests/test_properties.py::test_dpp_prunes_partitions."""
    ev = tbl(spark, sf_dir, "events")
    routed = ev.select(
        derive_logdate("ts", 86400).alias("logdate"), "user_id"
    )
    out = os.path.join(SCRATCH, "dpp_events")
    (
        routed.repartition("logdate")
        .write.mode("overwrite")
        .partitionBy("logdate")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    dim = (
        fact.select("logdate")
        .distinct()
        .filter(F.substring("logdate", 7, 2).cast("int") <= 3)
    )
    return (
        fact.join(F.broadcast(dim), "logdate")
        .groupBy(F.col("logdate").cast("string").alias("logdate"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "ingest_jsonl",
    """
    SELECT event_type,
           COUNT(*) AS n_good,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid
    FROM events
    WHERE event_id % 13 <> 0
    GROUP BY event_type
    """,
)
def ingest_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level JSON-lines ingestion with corrupt-record capture —
    the source-format counterpart of ingest_bad_records' column-level
    parse. Events are staged as JSONL with every 13th line corrupted
    (truncated JSON); the reader runs PERMISSIVE with an explicit
    schema + `columnNameOfCorruptRecord`, so bad lines land in a
    quarantine column instead of failing the job, and good rows
    aggregate normally. The reference's serde threw mid-batch and
    rolled back the whole transaction (HiveBatchedSink.scala:348-357)
    — here bad input degrades per-row with an audit trail.

    Scale note: an explicit schema is mandatory at 100 TB — schema
    inference is a second full scan of the input."""
    ev = tbl(spark, sf_dir, "events")
    staged = os.path.join(SCRATCH, "jsonl_events")
    line = F.concat(
        F.lit('{"event_id":'), F.col("event_id").cast("string"),
        F.lit(',"user_id":'), F.col("user_id").cast("string"),
        F.lit(',"event_type":"'), F.col("event_type"), F.lit('"}'),
    )
    # every 13th line truncated mid-object → invalid JSON
    dirty = F.when(
        F.col("event_id") % 13 == 0, F.substring(line, 1, 10)
    ).otherwise(line)
    ev.select(dirty.alias("value")).coalesce(4).write.mode(
        "overwrite"
    ).text(staged)
    back = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "_corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(staged)
    )
    return (
        back.filter(F.col("_corrupt").isNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_good"),
            F.sum("user_id").alias("sum_uid"),
        )
    )


@query(
    "sink_compact_small_files",
    f"""
    SELECT {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY 1
    """,
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the maintenance job every streaming
    landing table needs (micro-batch appends accumulate one file per
    batch per partition; the reference capped writer count with
    maxOpenFiles but still left per-batch files). A fragmented landed
    table (forced ~8 files per partition via repartition without
    partition alignment) is rewritten with `repartition(logdate)` so
    each partition collapses to one task's worth of output, then the
    read-back audit proves row preservation. The compacted layout is
    asserted to have strictly fewer files.

    At 100 TB this runs per-partition-predicate (compact only
    yesterday's partitions), which is the same plan with a WHERE on
    the partition column — partition pruning makes it incremental."""
    ev = tbl(spark, sf_dir, "events")
    routed = ev.withColumn("logdate", derive_logdate("ts", 86400))
    frag = os.path.join(SCRATCH, "compact_in")
    # fragment: round-robin repartition → every task writes into
    # every partition dir (the anti-pattern sink_partitioned_write's
    # docstring warns about), ~8 files per partition
    routed.repartition(8).write.mode("overwrite").partitionBy(
        "logdate"
    ).parquet(frag)
    compacted = os.path.join(SCRATCH, "compact_out")
    (
        spark.read.parquet(frag)
        .repartition("logdate")
        .write.mode("overwrite")
        .partitionBy("logdate")
        .parquet(compacted)
    )

    def _nfiles(root: str) -> int:
        return sum(
            1
            for r, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    assert _nfiles(compacted) < _nfiles(frag), "compaction must shrink files"
    back = spark.read.parquet(compacted)
    return back.groupBy(
        F.col("logdate").cast("string").alias("logdate")
    ).agg(F.count("*").alias("n_rows"))


@query(
    "scan_file_lineage",
    """
    SELECT 'lineitem.parquet' AS file_name,
           COUNT(*) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_okey
    FROM lineitem
    """,
)
def scan_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file lineage audit via the hidden `_metadata` column:
    which physical files contributed which rows — the debugging /
    incremental-reprocessing primitive (find the file a bad row came
    from; re-run only files newer than a watermark). `_metadata` is
    populated by the scan itself, so this adds zero I/O beyond the
    aggregate's column read; grouping by file name costs one tiny
    shuffle (one row per file). The reference tracked lineage at
    batch granularity in ZK (HiveBatchedSink.scala batch commit);
    file granularity is the lakehouse equivalent."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        li.select(
            F.col("_metadata.file_name").alias("file_name"), "l_orderkey"
        )
        .groupBy("file_name")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_orderkey").cast("bigint").alias("sum_okey"),
        )
    )


@query(
    "sink_sorted_layout",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid,
           CAST(MIN(event_id) AS BIGINT) AS min_eid,
           CAST(MAX(event_id) AS BIGINT) AS max_eid
    FROM events
    WHERE event_id BETWEEN 1000 AND 1999
    """,
)
def sink_sorted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered data layout for scan-time skipping: events are
    rewritten GLOBALLY sorted by event_id (range repartition + local
    sort — Spark's orderBy-for-write shape) with small parquet row
    groups, so every file and every row group's min/max footer stats
    cover a narrow, disjoint key range — a selective predicate then
    skips whole row groups inside the parquet reader (the
    single-column z-order). On an unsorted layout every row group
    spans the full key range and min/max stats prune nothing. At
    100 TB this layout choice (sort or z-order the table by its
    hottest filter keys at write time) cuts selective scans by
    orders of magnitude with zero query changes — the scan plan is
    identical, only the footer stats differ. Properties asserted in
    tests: the rewrite produces multiple row groups with narrow
    event_id ranges, and the filter reaches the scan
    (PushedFilters)."""
    ev = tbl(spark, sf_dir, "events")
    out = os.path.join(SCRATCH, "sorted_layout")
    (
        ev.select("event_id", "user_id", "event_type")
        .repartitionByRange(4, "event_id")
        .sortWithinPartitions("event_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(
        F.col("event_id").between(1000, 1999)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("user_id").cast("bigint").alias("sum_uid"),
        F.min("event_id").cast("bigint").alias("min_eid"),
        F.max("event_id").cast("bigint").alias("max_eid"),
    )


@query(
    "scan_schema_evolution",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid
    FROM (
      SELECT user_id,
             CASE WHEN event_id % 2 = 1 THEN event_type END AS event_type
      FROM events
    ) t
    GROUP BY event_type
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across landed batches: an early batch written
    WITHOUT `event_type` (the column didn't exist yet) and a later
    batch with it are read as ONE table via `mergeSchema` — old rows
    surface NULL for the added column instead of failing the scan.
    This is the add-column path every long-lived landing table hits
    (the reference pinned its schema in serde properties and would
    reject evolved events; a lakehouse table must absorb them).
    Merge cost is footer-only (per-file schema union at planning
    time); at 100 TB the practice is to pin the merged schema in the
    catalog and pass it explicitly — same plan, no footer sweep."""
    ev = tbl(spark, sf_dir, "events")
    root = os.path.join(SCRATCH, "schema_evo")
    (
        ev.filter(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id")
        .coalesce(2)
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v1"))
    )
    (
        ev.filter(F.col("event_id") % 2 == 1)
        .select("event_id", "user_id", "event_type")
        .coalesce(2)
        .write.mode("overwrite")
        .parquet(os.path.join(root, "v2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("user_id").cast("bigint").alias("sum_uid"),
    )


@query(
    "sink_overwrite_dynamic",
    f"""
    WITH routed AS (
      SELECT *, {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate
      FROM events
    ),
    final AS (
      SELECT event_id, value, logdate FROM routed
      WHERE logdate <> (SELECT MIN(logdate) FROM routed)
      UNION ALL
      SELECT event_id, value * 2 AS value, logdate FROM routed
      WHERE logdate = (SELECT MIN(logdate) FROM routed)
    )
    SELECT logdate, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM final GROUP BY logdate
    """,
)
def sink_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition re-landing — the reference's re-run story
    (a failed/replayed batch lands again into ITS partition without
    touching the rest of the table; the reference did this with
    in-use file renames + a bookkeeping table,
    HiveBatchedSink.scala / UpdateSinkDetailCallback.scala). Spark
    form: `partitionOverwriteMode=dynamic` — `mode("overwrite")`
    replaces ONLY the partitions present in the incoming batch.

    The test lands the full table, then re-lands a corrected batch
    (value×2) for the earliest logdate only; the audit proves the
    corrected partition was replaced (no doubled rows = idempotent
    re-run) and every other partition is untouched.

    Scale: the second write's cost is O(batch), not O(table) — the
    commit swaps one partition directory. `repartition(logdate)`
    keeps one writer task per partition (no small files)."""
    ev = tbl(spark, sf_dir, "events")
    routed = ev.select(
        "event_id", "value", derive_logdate("ts", 86400).alias("logdate")
    )
    out = os.path.join(SCRATCH, "sink_overwrite_dynamic")
    (
        routed.repartition("logdate")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("logdate")
        .parquet(out)
    )
    first_day = routed.agg(F.min("logdate")).collect()[0][0]  # one scalar
    corrected = routed.filter(F.col("logdate") == first_day).withColumn(
        "value", F.col("value") * 2
    )
    (
        corrected.repartition("logdate")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("logdate")
        .parquet(out)
    )
    landed = spark.read.parquet(out)
    # partition-dir values read back type-inferred; pin to string
    landed = landed.withColumn("logdate", F.col("logdate").cast("string"))
    return landed.groupBy("logdate").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_value"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "scan_profile_stats",
    """
    WITH w AS (
      SELECT COUNT(*) AS n_rows,
             """
    + ",\n             ".join(
        f"COUNT({c}) AS nn_{c}, COUNT(DISTINCT {c}) AS nd_{c}, "
        f"CAST(MIN({c}) AS DOUBLE) AS mn_{c}, "
        f"CAST(MAX({c}) AS DOUBLE) AS mx_{c}"
        for c in _PROFILE_COLS
    )
    + """
      FROM lineitem
    )
    """
    + "\n    UNION ALL\n    ".join(
        f"SELECT '{c}' AS col_name, CAST(n_rows AS BIGINT) AS n_rows, "
        f"CAST(n_rows - nn_{c} AS BIGINT) AS n_nulls, "
        f"CAST(nd_{c} AS BIGINT) AS n_distinct, "
        f"mn_{c} AS min_val, mx_{c} AS max_val FROM w"
        for c in _PROFILE_COLS
    ),
)
def scan_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling pass (the ANALYZE TABLE / data-quality
    profile): per numeric column, row/null/distinct counts and
    min/max, emitted long-format (one row per column) so the profile
    of a 400-column table is a 400-row table, not a 1600-column row.

    Scale shape: ONE scan computes every aggregate (Catalyst fuses
    the 17 aggregates into a single partial+final hash-agg pass —
    expand for the distincts, but still one pass over the data); the
    wide 1-row result is melted row-locally by exploding an array of
    per-column structs, so adding columns adds aggregates, never
    scans. At 100 TB the exact COUNT(DISTINCT) (an Expand that
    re-shuffles per distinct column) is the piece to swap for
    approx_count_distinct — noted here because the profile is the
    one place exactness rarely matters."""
    li = tbl(spark, sf_dir, "lineitem")
    aggs = [F.count("*").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("double").alias(f"mn_{c}"),
            F.max(c).cast("double").alias(f"mx_{c}"),
        ]
    wide = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}"))
                .cast("bigint")
                .alias("n_nulls"),
                F.col(f"nd_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_val"),
                F.col(f"mx_{c}").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select("s.*")


_EXPORT_SHARDS = 8


@query(
    "sink_jsonl_export",
    f"""
    SELECT CAST({sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 1, 8)}
                % {_EXPORT_SHARDS} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def sink_jsonl_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data delivery: export the documents table as
    sharded JSONL (one directory per md5-hash shard — the
    re-run-stable assignment of `ns_shard_plan`), then READ THE
    EXPORT BACK and audit per-shard doc/char volumes and id ranges.
    The oracle computes the same audit from the source table, so the
    check proves the export is lossless — every doc present exactly
    once with its text length intact, no matter how the write was
    parallelized.

    Scale shape: shard = row-local md5 (no skew — hash-uniform), one
    repartition(shard) gives one writer task per shard (no
    small-file explosion), and JSONL (spark.write.json) streams
    line-per-doc — the format downstream tokenizer jobs ingest. At
    100 TB the shard count is the only knob that changes."""
    d = tbl(spark, sf_dir, "documents")
    shard = (
        hex_int(F.md5(F.col("doc_id").cast("string")), 1, 8) % _EXPORT_SHARDS
    ).alias("shard")
    out = os.path.join(SCRATCH, "sink_jsonl_export")
    exported = d.select("doc_id", "text", "lang", "source", "n_chars", shard)
    (
        exported.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(out)
    )
    # Read back with the WRITTEN schema (partition column included —
    # Spark fills it from the directory names, cast to the declared
    # bigint): the losslessness proof is then type-exact for every
    # column, and the inference pre-scan over the whole export is
    # skipped — at 100 TB that pre-scan would double the read cost
    # and could coerce numeric-looking text/lang strings.
    back = spark.read.schema(exported.schema).json(out)
    return back.groupBy(F.col("shard").cast("bigint").alias("shard")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
        F.max("doc_id").cast("bigint").alias("max_doc_id"),
    )


_V2_CONFS = {
    # DSv2 parquet path (v1 has no aggregate pushdown) + the
    # footer-stats aggregate pushdown itself.
    "spark.sql.sources.useV1SourceList": "",
    "spark.sql.parquet.aggregatePushdown": "true",
}


def v2_scan_session(spark: SparkSession) -> SparkSession:
    """Child session for DSv2 footer-aggregate scans: the shared
    registry.scoped_session cache with `_V2_CONFS` applied."""
    return scoped_session(spark, _V2_CONFS)


@query(
    "scan_agg_pushdown",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key,
           CAST(MIN(l_partkey) AS BIGINT) AS min_part,
           CAST(MAX(l_partkey) AS BIGINT) AS max_part
    FROM lineitem
    """,
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-statistics aggregate pushdown: COUNT/MIN/MAX answered
    from parquet row-group metadata — the scan's `PushedAggregation`
    reads FOOTERS, not data pages (plan-asserted in PLANCHECK.json).
    At 100 TB this is the difference between a metadata walk
    (O(files)) and a full-table scan for the table-stats queries
    every catalog/monitor issues constantly. Runs under a scoped DSv2
    session (v1 parquet has no aggregate pushdown); the exact
    fallback — any predicate or non-min/max aggregate disables the
    pushdown — is the normal full scan, so correctness never depends
    on the fast path."""
    scoped = v2_scan_session(spark)
    path = os.path.join(sf_dir, "lineitem.parquet")
    li = scoped.read.parquet(path)
    return li.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("l_orderkey").cast("bigint").alias("min_key"),
        F.max("l_orderkey").cast("bigint").alias("max_key"),
        F.min("l_partkey").cast("bigint").alias("min_part"),
        F.max("l_partkey").cast("bigint").alias("max_part"),
    )


# ---------- z-order (bit-interleaved) multi-dimension layout ----------

_Z_BITS = 4  # per-dimension resolution: 4+4 bits -> 8-bit z key


def _z_terms_sql(xcol: str, ycol: str) -> str:
    """DuckDB twin of the z-value: interleave the low 8 bits of two
    bucket coordinates (x on even bit positions, y on odd). Pure
    integer shifts/masks — bit-identical across engines."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({xcol} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({ycol} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _z_col(xcol: str, ycol: str) -> F.Column:
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        z = z + F.shiftright(F.col(xcol), i).bitwiseAND(F.lit(1)) * (
            1 << (2 * i)
        )
        z = z + F.shiftright(F.col(ycol), i).bitwiseAND(F.lit(1)) * (
            1 << (2 * i + 1)
        )
    return z


@query(
    "sink_zorder_interleave",
    f"""
    WITH z AS (
      SELECT user_id % 16 AS ux,
             (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
               // 86400) % 16 AS dy,
             user_id
      FROM events
    ),
    zz AS (
      SELECT user_id, ux, dy, {_z_terms_sql('ux', 'dy')} AS zval
      FROM z
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid,
           CAST(MIN(zval) AS BIGINT) AS min_z,
           CAST(MAX(zval) AS BIGINT) AS max_z,
           CAST(MIN(dy) AS BIGINT) AS min_dy,
           CAST(MAX(dy) AS BIGINT) AS max_dy
    FROM zz WHERE ux BETWEEN 4 AND 7
    """,
)
def sink_zorder_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered layout for MULTI-dimension
    scan skipping — the two-key generalization of
    sink_sorted_layout's single-key sort: bucket coordinates ux =
    user_id mod 16 and dy = epoch-day mod 16 are bit-INTERLEAVED
    into an 8-bit z key (x on even, y on odd bit positions — a
    coarse bucket mod keeps every coordinate populated even on the
    15-user sf0.001 fixture; production would widen _Z_BITS with the
    key cardinality), events
    are rewritten range-partitioned + sorted by z with small row
    groups, and the file is read back through a selective one-dim
    predicate (ux BETWEEN 4 AND 7). Because the Morton curve keeps
    both coordinates locally bounded inside every z range, each row
    group's min/max footer stats are narrow on BOTH stored bucket
    columns — so predicates on EITHER dimension skip row groups,
    which a single-column sort gives only its leading key. This is
    the standard lakehouse layout move (Delta/Iceberg OPTIMIZE
    ZORDER BY) for 100 TB tables with two hot filter keys; the z
    computation is pure integer shifts/masks, identical in the
    DuckDB twin, and the layout property (matching rows concentrate
    in a strict subset of files vs ALL files under the natural
    order) is pinned by a test over `_metadata.file_name`."""
    ev = tbl(spark, sf_dir, "events")
    zz = ev.select(
        "event_id",
        "user_id",
        (F.col("user_id") % 16).alias("ux"),
        (
            (F.floor(F.col("ts").cast("long") / 86400).cast("bigint")) % 16
        ).alias("dy"),
    ).withColumn("zval", _z_col("ux", "dy"))
    out = os.path.join(SCRATCH, "zorder_layout")
    (
        zz.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .option("parquet.block.size", 64 * 1024)
        .parquet(out)
    )
    back = spark.read.parquet(out).filter(F.col("ux").between(4, 7))
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum("user_id").cast("bigint").alias("sum_uid"),
        F.min("zval").cast("bigint").alias("min_z"),
        F.max("zval").cast("bigint").alias("max_z"),
        F.min("dy").cast("bigint").alias("min_dy"),
        F.max("dy").cast("bigint").alias("max_dy"),
    )
