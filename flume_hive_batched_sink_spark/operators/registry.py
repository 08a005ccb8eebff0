"""Query/oracle registry + cross-engine determinism helpers.

Every operator registers a PySpark callable `(spark, sf_dir) ->
DataFrame` and (unless genuinely non-SQL-expressible) an ANSI-SQL
twin that DuckDB runs on the same parquet tables. The driver compares
row count, schema, and an order-insensitive value hash — so results
must be *bit-identical*, not just approximately equal.

Determinism rules used throughout:

- **Float aggregation**: summing doubles is order-dependent; Spark's
  partial aggregates and DuckDB's single-threaded scan would disagree
  in low bits. All double sums/avgs therefore go through an exact
  decimal: row-level arithmetic stays in IEEE double (identical in
  both engines), the result is cast to DECIMAL(28,6), summed exactly,
  and cast back to double. Helper: `dsum` / `davg`.
- **Hashing**: every hashed integer (MinHash, Bloom, sampling,
  sharding) is a hex prefix of md5, which both engines compute
  byte-identically, read as a BIGINT by `hex_int` / `sql_hex_int` —
  the one place either engine turns hex into an integer.
- **Time bucketing**: naive epoch-seconds arithmetic on both sides
  (no to_timestamp/TZ functions in the oracle — DuckDB's default TZ
  is the host's, not necessarily UTC).
- **Top-k / row_number**: every ordering carries a unique-key
  tiebreaker so LIMIT/rank boundaries are deterministic.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; `oracle=None` → rows-only check."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def dlit_sql(v: float) -> str:
    """Exact double literal for generated SQL: a string cast parses
    via Double.parseDouble, so the shortest-round-trip repr recovers
    the bit-identical double F.lit(v) would carry. Shared by the
    clustering/similarity generated-SQL constructors (guide §1.1)."""
    return f"cast('{float(v)!r}' as double)"


# --- exact float aggregation (see module docstring) ---

_DEC = "decimal(28,6)"


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent double sum: exact decimal inside, double out."""
    col = F.col(col) if isinstance(col, str) else col
    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-independent double avg: exact decimal sum / count, both
    engines divide the same two numbers."""
    col = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(col.cast(_DEC)).cast("double") / F.count(col)
    ).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """DuckDB twin of `dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """DuckDB twin of `davg`."""
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )


# --- cross-engine hex-to-integer (md5 hashing, see module docstring) ---


def hex_int(h: Column, start: int, n: int) -> Column:
    """BIGINT value of the n hex chars of `h` from 1-based `start`;
    n <= 15 so every value fits a signed bigint."""
    return F.conv(F.substring(h, start, n), 16, 10).cast("bigint")


def sql_hex_int(h: str, start: int, n: int) -> str:
    """DuckDB twin of `hex_int`."""
    return f"CAST(('0x' || substring({h}, {start}, {n})) AS BIGINT)"


# --- cross-engine deterministic natural log (integer domain) ---
#
# Native ln() is NOT bit-identical between the JVM and DuckDB: ~1% of
# integer inputs over 1..2e6 differ by 1 ulp (measured in r9 — Java's
# Math.log and libm's log are each only 1-ulp-accurate, not correctly
# rounded), so ln can never feed a hash-compared column directly.
# `det_ln_int` replaces it for integer arguments n >= 1 using ONLY
# operations IEEE 754 requires to be correctly rounded (+ - * /),
# which therefore ARE bit-identical in both engines:
#
#   n = m * 2^e,  e = length(bin(n)) - 1      (exact integer),
#                 m = n / 2^e in [1, 2)       (power-of-two division
#                                              is exact),
#   ln n = e*ln2 + 2*atanh(t),  t = (m-1)/(m+1) in [0, 1/3),
#   atanh truncated at t^15/15, Horner form, double-literal
#   coefficients (both engines parse shortest-round-trip decimal
#   strings to the nearest double; the DuckDB twin must CAST every
#   literal to DOUBLE because DuckDB parses bare decimal literals as
#   DECIMAL and decimal-typed intermediates round differently).
#
# Truncation error < t^17/17 <= 4.6e-10 absolute (~2e-10 relative;
# property-tested); bit parity over 1..1e6 verified mechanically in
# tests/test_properties.py. Used by the LM-perplexity and DSIR
# importance-weight operators, whose scores are sums of logs of
# integer counts.
DET_LN2 = 0.6931471805599453
_ATANH_C = [1.0 / (2 * j + 1) for j in range(8)]


def det_ln_int(n: Column) -> Column:
    """ln(n) for an integer column n >= 1, bit-identical cross-engine."""
    nb = n.cast("long")
    e = (F.length(F.bin(nb)) - F.lit(1)).cast("double")
    m = nb.cast("double") / F.pow(F.lit(2.0), e)
    t = (m - F.lit(1.0)) / (m + F.lit(1.0))
    t2 = t * t
    poly = F.lit(_ATANH_C[-1])
    for c in reversed(_ATANH_C[:-1]):
        poly = F.lit(c) + t2 * poly
    return e * F.lit(DET_LN2) + F.lit(2.0) * t * poly


def sql_det_ln_ctes(name: str, src: str, cols: dict[str, str]) -> str:
    """DuckDB twin of `det_ln_int` as a CTE chain.

    Emits CTEs `{name}_a`..`{name}_c` and a final CTE `{name}` that
    carries every column of `src` plus, per (in_expr -> out_name) in
    `cols`, a DOUBLE column `out_name` = det_ln(in_expr). Intermediate
    helper columns `{out}__e/__m/__t/__t2` leak into `{name}`'s scope;
    downstream SELECTs must project explicitly. Inputs must be
    integer-typed and >= 1."""
    a = ", ".join(
        f"CAST(length(bin(CAST({i} AS BIGINT))) - 1 AS DOUBLE) AS {o}__e, "
        f"CAST({i} AS DOUBLE) / (CAST(2.0 AS DOUBLE)"
        f" ** (length(bin(CAST({i} AS BIGINT))) - 1)) AS {o}__m"
        for i, o in cols.items()
    )
    b = ", ".join(
        f"({o}__m - CAST(1.0 AS DOUBLE)) /"
        f" ({o}__m + CAST(1.0 AS DOUBLE)) AS {o}__t"
        for o in cols.values()
    )
    c = ", ".join(f"{o}__t * {o}__t AS {o}__t2" for o in cols.values())
    fins = []
    for o in cols.values():
        poly = f"CAST({_ATANH_C[-1]!r} AS DOUBLE)"
        for coef in reversed(_ATANH_C[:-1]):
            poly = f"(CAST({coef!r} AS DOUBLE) + {o}__t2 * {poly})"
        fins.append(
            f"{o}__e * CAST({DET_LN2!r} AS DOUBLE)"
            f" + CAST(2.0 AS DOUBLE) * {o}__t * {poly} AS {o}"
        )
    return f"""
    {name}_a AS (SELECT *, {a} FROM {src}),
    {name}_b AS (SELECT *, {b} FROM {name}_a),
    {name}_c AS (SELECT *, {c} FROM {name}_b),
    {name} AS (SELECT *, {", ".join(fins)} FROM {name}_c)
    """


# --- driver-built frames ---


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """A small driver-built frame (`rows`: tuples in `ddl` column
    order) that stays in the JVM: the rows travel as ONE Arrow table,
    which Spark plans as a LocalRelation whatever the session's Arrow
    setting. `createDataFrame(<list>)` plans a LogicalRDD instead
    (`Scan ExistingRDD`), and executing it starts Python workers. The
    package's one createDataFrame call (tests/test_local_frame.py)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


# --- bounded persist (per-site cache eviction) ---

_PERSIST_SITES: dict[str, list] = {}


def persist_evicting(df: DataFrame, site: str) -> DataFrame:
    """Persist `df` after unpersisting every frame previously
    persisted under the same `site` key (r13 verdict #5 / advice #2):
    a long-running sweep/bench process holds at most ONE invocation's
    cached partitions per call site instead of accumulating one set
    per call. Eviction is correctness-safe — an evicted frame lazily
    recomputes; a site whose recompute is order-sensitive (a double
    fold) says at its call why the different order cannot change its
    result (similarity.embedding_features).

    ALWAYS evicts and re-persists: every invocation recomputes its
    intermediates from the parquet inputs. (An r14 interim build
    briefly memoized keyed sites across invocations; that hid the
    expensive pass of a repeat invocation behind the first one's
    cache — a measurement distortion, reverted in the optimization
    round. Persist here is strictly WITHIN-invocation sharing: one
    returned plan with several consumers of the same subtree.)"""
    prev = _PERSIST_SITES.setdefault(site, [])
    while prev:
        # blocking: async unpersist leaves the old entry in the JVM's
        # persistent-RDD registry for an arbitrary grace period, which
        # both defeats the bounded-lifecycle guarantee this helper
        # exists for and makes the lifecycle test's registry count
        # nondeterministic; the synchronous drop is milliseconds in
        # local mode and bounds memory deterministically at scale
        prev.pop()[1].unpersist(blocking=True)
    out = df.persist()
    prev.append((None, out))
    return out


# --- shared table access ---


# Per-session scan-metadata cache for tbl(): {(abspath, name):
# (fingerprint, lazy scan frame, base split count)}. This caches
# PLAN METADATA only — a lazy relation handle (file listing + schema,
# the same things Spark's own FileStatusCache memoizes per session)
# and one int. NO data, NO results, NO intermediates are cached, and
# the entry carries the data files' mtime+size fingerprint so in-place
# regeneration REPLACES it (r14 advice #1: fingerprint-in-key
# accumulated one dead entry per regeneration, pinning stale plan
# handles for the session lifetime). Why (r14 optimization round,
# guide §1): every fresh `spark.read.parquet` relists+re-reads
# footers (~100 ms) of driver-side fixed cost PER QUERY BUILD that
# has nothing to do with the query.
_TBL_META: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def tbl(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """Load a testdata table. `parallel=True` marks a scan feeding
    CPU-heavy map-side work (parse/hash/fold per row): it repartitions
    up to the core count when the scan yields fewer splits. The local
    testdata is ONE row group per file (verified via pyarrow), so
    without this every per-row computation serializes onto one task —
    and `spark.sql.files.maxPartitionBytes` tuning is NOT an
    alternative: byte-range splits of a single row group collapse to
    one non-empty task, so lowering it buys nothing here. On a real
    cluster a 100 TB scan yields thousands of splits and this guard
    never fires — it is never a down-partitioning.

    Decision rule (measured at sf0.1, best-of-2): use parallel=True
    only when per-row CPU dominates the shuffle cost — decimal-exact
    folds (agg_multi 1.43 s with vs 1.75 s without; agg_stats 1.21 vs
    1.95) and text/hash/vector work qualify; cheap probe/count paths
    do not (join_multiway 1.79 with vs 1.52 without → no repartition).

    The lazy scan handle and its split count are cached per (session,
    path) with an mtime+size fingerprint of every data file (a landed
    table gains files inside existing partition directories, which
    the top directory's own mtime does not show) — see _TBL_META:
    plan metadata, never data. The split count is Spark's own: the
    input RDD of the planned file scan (FilePartition packing of the
    listing), read without converting the plan to an RDD."""
    from ..catalog import data_files, load_table

    per = _TBL_META.setdefault(spark, {})
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        fp = tuple(
            (f, st.st_mtime_ns, st.st_size)
            for f in data_files(path)
            for st in [os.stat(f)]
        )
    except OSError:
        fp = None
    key = (os.path.abspath(sf_dir), name)
    ent = per.get(key)
    if ent is None or ent[0] != fp:
        df = load_table(spark, sf_dir, name)
        scan = df._jdf.queryExecution().sparkPlan().collectLeaves().apply(0)
        ent = (fp, df, scan.inputRDD().getNumPartitions())
        per[key] = ent
    _fp, df, nparts = ent
    if parallel:
        want = spark.sparkContext.defaultParallelism
        if nparts < want:
            df = df.repartition(want)
    return df


# --- scoped child sessions (shared SparkContext, isolated SQLConf) ---

_SCOPED_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def scoped_session(
    spark: SparkSession, confs: dict[str, str]
) -> SparkSession:
    """Child session with `confs` applied — shared SparkContext and
    cached data, isolated SQLConf. Cached weakly per (parent session,
    conf set): entries die with the parent (id()-keyed caching could
    alias a fresh session onto a dead SparkContext), and repeated
    invocations don't accumulate SessionStates. `newSession` inherits
    SparkConf-time settings but NOT runtime `conf.set` ones — the two
    that affect semantics/shape are carried over explicitly. Shared
    by join_bloom_runtime and scan_agg_pushdown."""
    per = _SCOPED_SESSIONS.setdefault(spark, {})
    key = tuple(sorted(confs.items()))
    if key not in per:
        per[key] = spark.newSession()
    scoped = per[key]
    # Re-apply on EVERY call (conf.set on an unchanged value is a
    # dict write, not a JVM replan): a cached child must track later
    # runtime changes to the parent's carried confs, not freeze them
    # at first scoped use.
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.shuffle.partitions",
    ):
        scoped.conf.set(k, spark.conf.get(k))
    for k, v in confs.items():
        scoped.conf.set(k, v)
    return scoped
