"""Table catalog over the driver-generated parquet testdata.

Mirrors the reference's metastore-as-source-of-truth model
(HiveUtils.scala:79-88: schema fetched from the catalog, never
inferred per event): tables are loaded by name from a scale-factor
directory and registered as temp views so both the DataFrame and SQL
surfaces see the same relations.

Timestamp normalization (FIXTURES.md note): `events.ts` is parquet
timestamp[ns], which Spark 4 refuses to read natively
(PARQUET_TYPE_ILLEGAL). We read ns columns as int64
(`spark.sql.legacy.parquet.nanosAsLong`) and truncate to
microsecond TimestampType — the same ns→µs truncation DuckDB's
TIMESTAMP cast performs, so both engines see identical instants.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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


def data_files(path: str) -> list[str]:
    """The data files of a table path, in sorted order: the path
    itself when it is a file; under a directory (a partitioned table,
    e.g. a landed one) every file of a sorted walk that skips what
    Spark's file index skips — names starting with `.` (checksum
    siblings) or `_` (`_SUCCESS`, `_temporary`), unless a `_` name
    holds `=` (a partition directory), and zero-length files
    (PartitioningAwareFileIndex.isNonEmptyFile)."""
    if not os.path.isdir(path):
        return [path]

    def hidden(n: str) -> bool:
        return n.startswith(".") or (n.startswith("_") and "=" not in n)

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        for f in sorted(files):
            p = os.path.join(root, f)
            if not hidden(f) and os.path.getsize(p):
                out.append(p)
    return out


@lru_cache(maxsize=256)
def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Column names stored as timestamp[ns] in the parquet footer of
    the table's first data file."""
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    files = data_files(path)
    if not files:
        return ()
    schema = pq.read_schema(files[0])
    return tuple(
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; normalize timestamps to µs precision."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_ts_columns(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Spark infers a directory's schema from the footer of its first-
    # sorted file, zero-length ones included, and fails on those: take
    # the data schema from the first non-empty file instead (partition
    # columns are still inferred from the directory names).
    files = data_files(path)
    reader = spark.read
    if files and files[0] != path:
        reader = reader.schema(spark.read.parquet(files[0]).schema)
    df = reader.parquet(path)
    for field in df.schema.fields:
        # ns_cols comes from the pyarrow footer, which also reports
        # legacy INT96 timestamps as ns — those decode to TIMESTAMP in
        # Spark regardless of the nanosAsLong flag, so gate the int64
        # ns→µs conversion on the type Spark actually read.
        if field.name in ns_cols and field.dataType.typeName() == "long":
            # int64 nanos → truncate to µs (matches DuckDB's ns→µs
            # cast). Integer DIV — a double division would lose
            # precision above 2^53 ns.
            df = df.withColumn(
                field.name,
                F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
            )
        elif field.dataType.typeName().startswith("timestamp"):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every testdata table; optionally register temp views."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out
