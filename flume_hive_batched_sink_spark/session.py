"""SparkSession factory.

Pins the settings every operator in this engine assumes:

- UTC session timezone (the reference rounds timestamps in a
  configurable TZ, HiveBatchedSink.scala:237-238; we pin UTC so the
  DuckDB oracle and Spark agree on every time bucket),
- AQE on (runtime re-plan: skew joins, partition coalescing — the
  100 TB path relies on it),
- Arrow on (Pandas-UDF fast path),
- shuffle partitions sized to the local core count rather than the
  200 default (on a real cluster this is set to ~2-3× total cores).

`executed_plans` reads back what a session ran — every SQL execution
with its physical plan — from Spark's own SQL status store;
`last_execution_id` reads only the newest id there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flume_hive_batched_sink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # write µs timestamps, not deprecated INT96: INT96 reads back
        # as timestamp[ns] through pyarrow, tripping the catalog's
        # ns-column normalization on our own sink outputs
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _status_store(spark: SparkSession):
    """Spark's SQL status store, once the listener bus that fills it
    is drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def executed_plans(
    spark: SparkSession, after: int = -1
) -> list[tuple[int, int, str, str]]:
    """The SQL executions Spark's own status store holds (the last
    `spark.sql.ui.retainedExecutions`, 1000 by default) with an id
    greater than `after`, as (execution id, root execution id,
    description, physical plan in FORMATTED mode). A streaming
    micro-batch is an execution described `<query name> ... batch =
    <n>`; the writes and collects its foreachBatch body runs are
    executions rooted at it."""
    store = _status_store(spark)
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    return [
        (
            e.executionId(),
            e.rootExecutionId(),
            e.description(),
            e.physicalPlanDescription(),
        )
        for e in as_java(store.executionsList())
        if e.executionId() > after
    ]


def last_execution_id(spark: SparkSession) -> int:
    """The newest execution id in the status store (-1: none), the
    mark to read one call's executions after. The store lists its
    executions by id, so only the last one is read, not every plan."""
    store = _status_store(spark)
    n = store.executionsCount()
    if n == 0:
        return -1
    newest = store.executionsList(n - 1, 1)
    return newest.head().executionId()
