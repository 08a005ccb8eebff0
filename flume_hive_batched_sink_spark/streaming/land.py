"""The landing pipeline — the reference's entire job, Spark-native.

Reference flow per micro-batch (HiveBatchedSink.scala:296-358 +
close/finalize path :349-407 + leader epilogue :177-227):
  drain batch → serde parse → route to time partitions → ORC write →
  register partition → upsert bookkeeping (name, logdate, hostname,
  counts) → leader checks completeness → mark CHECKED → REST notify.

Spark form: ONE `foreachBatch` function. Dynamic partition append
replaces the writer pool + add_partition DDL; the bookkeeping upsert
is a last-write-wins merge of appends; the completeness check is the
driver-side epilogue (the driver is always "leader" — ZK election
collapses, SURVEY.md §3.4), so the bookkeeping view the epilogue
decides on lives on the driver too (one `_Book` per bookkeeping path)
and is read back from disk only on restart. The bookkeeping rows are
already on the driver, so the driver writes each append itself: one
parquet file, published by rename, and a restart reads them back
with pyarrow, with no Spark job (the Structured Streaming paper's
offset/commit logs are driver-written and -read files the same way). A
micro-batch therefore runs 4 Spark jobs: the partitioned data write
and the collect of its per-logdate counts, two jobs each.

Guarantee: the micro-batch is checkpoint-bounded, so a batch is never
skipped (this structurally fixes the data-loss FIXME at
HiveBatchedSink.scala:335, commit-before-flush). The data write and
the bookkeeping appends are NOT idempotent under replay: a batch_id
replayed after a crash before its checkpoint commit lands its rows
and adds its count a second time (ROADMAP item 1).
"""

from __future__ import annotations

import logging
import os
import shutil
import threading
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SinkConfig
from ..functions.partition import derive_logdate
from ..sources.parse import parse_column
from .stage import run_stream


def route_and_parse(df: DataFrame, cfg: SinkConfig) -> DataFrame:
    """parse (A5) + time-bucket route (A3/A4): pure column ops."""
    out = df
    if cfg.serde_name and "props" in df.columns:
        out = out.withColumn(
            "parsed",
            parse_column(
                "props", cfg.serde_name, cfg.serde_properties.get("schema", "k int")
            ),
        )
    return out.withColumn(
        cfg.partition_col,
        derive_logdate(
            "ts", cfg.round_seconds, cfg.partition_format, cfg.timezone
        ),
    )


def _apply_file_naming(
    spark: SparkSession,
    data_path: str,
    cfg: SinkConfig,
    logdates: list[str | None],
) -> None:
    """Rename committed part files to `<prefix>part-...<suffix>`
    (Config.scala:25-27). Driver-side and bounded: it walks only the
    partition directories of the logdates this batch wrote (their
    names escaped by Spark's own ExternalCatalogUtils), never the
    whole table. Idempotent — already-renamed files no longer match
    the `part-` pattern (or already carry the suffix) and are
    skipped, so append batches never double-rename."""
    if not cfg.file_name_prefix and not cfg.file_name_suffix:
        return
    catalog = spark._jvm.org.apache.spark.sql.catalyst.catalog
    part_dir = catalog.ExternalCatalogUtils.getPartitionPathString
    for logdate in logdates:
        root = os.path.join(data_path, part_dir(cfg.partition_col, logdate))
        for name in os.listdir(root):
            if not name.startswith("part-"):
                continue
            if cfg.file_name_suffix and name.endswith(cfg.file_name_suffix):
                continue
            new = f"{cfg.file_name_prefix}{name}{cfg.file_name_suffix}"
            os.rename(os.path.join(root, name), os.path.join(root, new))
            # the checksum sibling follows its file, as Hadoop's
            # ChecksumFileSystem.rename does
            crc = os.path.join(root, f".{name}.crc")
            if os.path.exists(crc):
                os.rename(crc, os.path.join(root, f".{new}.crc"))


def _book_path(cfg: SinkConfig) -> str:
    return os.path.join(cfg.output_path, f"{cfg.table}__bookkeeping")


def _window_end(cfg: SinkConfig) -> Column:
    """End instant (epoch µs) of the bucket window a logdate names.
    logdate is a LOCAL wall time (cfg.timezone); shift back to the
    true instant before adding the bucket width."""
    return F.unix_micros(
        F.to_utc_timestamp(
            F.to_timestamp(F.col(cfg.partition_col), cfg.partition_format),
            cfg.timezone,
        )
        + F.expr(f"INTERVAL {cfg.round_seconds} SECOND")
    )


def _micros(ts: Column) -> Column:
    """Epoch µs of an event time. A TIMESTAMP_NTZ reads in the session
    time zone, as Spark reads it when comparing it with a window end."""
    return F.unix_micros(ts.cast("timestamp"))


class _Row(NamedTuple):
    """One bookkeeping row; the first five fields are the on-disk
    schema (updatetime as epoch µs, see _micros), `window_end` is
    derived."""

    logdate: str | None
    sinkcount: int
    updatetime: int | None
    batch_id: int
    state: str
    window_end: int | None


def _read_appends(cfg: SinkConfig) -> tuple[list[tuple], str]:
    """Every append row as a tuple in the on-disk column order, with
    updatetime in epoch µs, and updatetime's type. The driver reads
    the files with pyarrow, which skips `_`/`.` names (`_SUCCESS`,
    `.crc`, `_append`'s temp files) as Spark's file index does."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    path = _book_path(cfg)
    appends = ds.dataset(path) if os.path.isdir(path) else None
    if not (appends and appends.files):
        return [], "timestamp"
    names = [cfg.partition_col, "sinkcount", "updatetime", "batch_id", "state"]
    cols = appends.to_table(columns=names).columns
    t = cols[2].type  # Spark's INT96 timestamps read as zone-less ns
    ts_type = "timestamp" if t.tz or t.unit == "ns" else "timestamp_ntz"
    cols[2] = cols[2].cast(pa.timestamp("us", t.tz)).cast(pa.int64())
    return list(zip(*(c.to_pylist() for c in cols))), ts_type


# the appends' schema, as Spark writes it: partition column, ts_type
_DDL = "`{}` string, sinkcount bigint, updatetime {}, batch_id int, state string"


def _lww(rows) -> dict:
    """Last-write-wins over append rows (on-disk column order): per
    logdate the highest batch_id wins, then within a batch NOTIFIED >
    CHECKED > NEW, the order a tick advances a logdate in. A LATER
    batch's NEW row outranks any old mark: late data reopens it."""
    rank = ("NEW", "CHECKED", "NOTIFIED")
    ordered = sorted(rows, key=lambda r: (r[3], rank.index(r[4])))
    return {r[0]: r for r in ordered}


class _Book:
    """Driver-resident bookkeeping of one table: the last-write-wins
    view of its appends (logdate → _Row, as `_lww` picks it from
    disk) and the high-water event time `wm` — the max updatetime over
    the RAW appends, which is monotone by construction (the lww view
    is not: a late row for the logdate holding the max replaces that
    logdate's updatetime with a smaller value). `rows is None` until
    loaded; every read and write holds `lock`, so the stream's
    foreachBatch and a reconcile_timer thread never interleave.
    `ts_type` is the on-disk type of updatetime: the type of the
    stream's event time (timestamp or timestamp_ntz)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.rows: dict[str | None, _Row] | None = None
        self.wm: int | None = None
        self.ts_type = "timestamp"

    def load(self, spark: SparkSession, cfg: SinkConfig) -> None:
        """Rebuild from the durable appends (restart, or the first
        tick over an unloaded view) with no Spark job: a projection
        over a local_frame is evaluated on the driver."""
        from ..operators.registry import local_frame

        self.rows = None  # stays unloaded if a read below raises
        raw, ts_type = _read_appends(cfg)
        if not raw:
            return self.reset()
        ddl = _DDL.format(cfg.partition_col, ts_type)
        view = local_frame(spark, raw, ddl).select(
            cfg.partition_col,
            "sinkcount",
            _micros(F.col("updatetime")),
            "batch_id",
            "state",
            _window_end(cfg),
        )
        rows = [_Row(*r) for r in view.collect()]
        times = [r.updatetime for r in rows if r.updatetime is not None]
        self.wm, self.ts_type = max(times, default=None), ts_type
        self.rows = _lww(rows)

    def reset(self) -> None:
        """A fresh stream: its appends start from nothing."""
        self.rows, self.wm = {}, None


# One view per bookkeeping directory in this process, keyed by its
# absolute path: the view mirrors that directory, and the driver is
# its only writer (the leader), so every caller landing or
# reconciling a table must share the one view and its lock.
_BOOKS: dict[str, _Book] = {}
_BOOKS_LOCK = threading.Lock()


def _book(cfg: SinkConfig) -> _Book:
    with _BOOKS_LOCK:
        return _BOOKS.setdefault(os.path.abspath(_book_path(cfg)), _Book())


def _append(
    spark: SparkSession, cfg: SinkConfig, rows: list[_Row], ts_type: str
) -> None:
    """One bookkeeping append: one parquet file the driver writes with
    pyarrow (no Spark job), in the schema Spark itself writes —
    `logdate string, sinkcount bigint, updatetime, batch_id int, state
    string`, updatetime of the stream's event-time type `ts_type`. It
    is written under a hidden name (readers skip `.`-files) and
    renamed into place, so a reader never sees a partial append."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    logdate, sinkcount, updatetime, batch_id, state = zip(
        *(r[:5] for r in rows)
    )
    if ts_type == "timestamp_ntz":
        # the instant's wall clock in the session time zone, as Spark's
        # cast to timestamp_ntz gives it (`_micros` reads it back). The
        # offsets come from Spark's own zone rules: Arrow's time zone
        # database rejects ids Spark accepts, such as "+08:00".
        jvm = spark._jvm
        rules = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            spark.conf.get("spark.sql.session.timeZone")
        ).getRules()

        def wall(t: int) -> int:
            instant = jvm.java.time.Instant.ofEpochSecond(t // 1_000_000)
            return t + 1_000_000 * rules.getOffset(instant).getTotalSeconds()

        updatetime = pa.array(
            [None if t is None else wall(t) for t in updatetime],
            pa.timestamp("us"),
        )
    else:
        updatetime = pa.array(updatetime, pa.timestamp("us", tz="UTC"))
    table = pa.table(
        {
            cfg.partition_col: pa.array(logdate, pa.string()),
            "sinkcount": pa.array(sinkcount, pa.int64()),
            "updatetime": updatetime,
            "batch_id": pa.array(batch_id, pa.int32()),
            "state": pa.array(state, pa.string()),
        }
    )
    path = _book_path(cfg)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(path, f".{name}")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, name))
    except BaseException:
        # a hidden temp file is never read, so nothing else removes it
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def land_batch(
    batch_df: DataFrame,
    batch_id: int,
    cfg: SinkConfig,
    on_complete: Callable[[list[str]], None] | None = None,
) -> None:
    """One micro-batch landing (the foreachBatch body).

    1. route+parse, 2. partitioned columnar append (partition
    registration is implicit in the directory layout / would be
    `saveAsTable` against a real metastore), 3. one small collect of
    this batch's per-logdate counts, 4. bookkeeping upsert +
    completeness epilogue (A17/A18/A20/A23/A24, `_epilogue`): logdates
    whose bucket-window has fully elapsed by the high-water event
    time are 'CHECKED' and reported via the `on_complete` callback
    (the reference's REST POST, DTEUtils.scala:23-33).

    Steps 2 and 3 are the batch's only Spark jobs (4 in all: each is
    a shuffle stage plus a result stage). The batch is not persisted
    between them: the counts read only `ts` and the logdate, so
    column pruning drops the parse from their re-read of the source.
    The bookkeeping appends are driver-written files (`_append`).
    The write and the collect are each one execution in Spark's SQL
    execution store, rooted at the micro-batch that runs this body;
    the plan sweep reads their plans there (`session.executed_plans`).

    A logdate's `sinkcount` is cumulative: the count the bookkeeping
    already holds plus this batch's rows (the reference's counter
    map, SURVEY.md §3.3). Replaying a batch_id adds its rows again —
    idempotence under replay is not provided (module docstring)."""
    spark = batch_df.sparkSession
    routed = route_and_parse(batch_df, cfg)
    data_path = os.path.join(cfg.output_path, cfg.table)
    (
        routed.repartition(cfg.partition_col)
        .write.mode("append")
        .option("maxRecordsPerFile", cfg.max_records_per_file)
        # no _SUCCESS marker: no reader of the table looks for one,
        # and every micro-batch would rewrite it at the table root
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(cfg.partition_col)
        .format(cfg.file_format)
        .save(data_path)
    )
    counts = (
        routed.groupBy(cfg.partition_col)
        .agg(
            F.count("*").alias("n"),
            _micros(F.max("ts")).alias("updatetime"),
        )
        .withColumn("window_end", _window_end(cfg))
        .collect()
    )
    _apply_file_naming(spark, data_path, cfg, [r[0] for r in counts])

    book = _book(cfg)
    with book.lock:
        if book.rows is None:
            book.load(spark, cfg)
        book.ts_type = batch_df.schema["ts"].dataType.simpleString()
        held = book.rows
        new = [
            _Row(ld, n + (held[ld].sinkcount if ld in held else 0), ut,
                 batch_id, "NEW", we)
            for ld, n, ut, we in counts
        ]
        _epilogue(spark, cfg, book, batch_id, new, on_complete)


def _epilogue(
    spark: SparkSession,
    cfg: SinkConfig,
    book: _Book,
    batch_id: int,
    new: list[_Row],
    on_complete: Callable[[list[str]], None] | None,
) -> list[str]:
    """One bookkeeping tick (caller holds `book.lock`): append this
    batch's NEW rows, then — with an `on_complete` — find every
    not-yet-NOTIFIED logdate whose window end has passed the raw
    high-water event time, mark it CHECKED, notify, mark NOTIFIED.
    The per-batch path (land_batch) and the startup / timer reconcile
    (`_reconcile`, `new=[]`) share it, so the paths cannot drift.
    Returns the notified logdates. A tick decides on the driver view
    and each of its (at most two) appends is one driver-written file,
    so it runs no Spark job.

    The loop re-checks ALL open logdates every tick, not just the
    current batch's: batch-local checking would never finalize a
    logdate whose window closes during a batch carrying none of its
    rows. This is the reference's leader loop (getFinishedLogdateList →
    updateCheckedState → REST, HiveBatchedSink.scala:205-227) plus a
    durable notified state the reference lacks.

    Crash-safety: states advance NEW → CHECKED →
    NOTIFIED as durable appends. NEW and CHECKED rows go in ONE
    append BEFORE on_complete fires (updateCheckedState-then-POST,
    the reference's own order, HiveBatchedSink.scala:216-227);
    NOTIFIED is appended only AFTER on_complete returns. The driver
    view advances only after each append succeeded, so it never runs
    ahead of the disk. A crash between the CHECKED append and the
    POST leaves the logdate CHECKED-but-unnotified, and because the
    check includes CHECKED rows, the next tick after restart
    reconciles it — re-notifying instead of silently losing the
    notification. A crash between the POST and the NOTIFIED append
    re-notifies on restart, so the cross-crash guarantee is
    AT-LEAST-ONCE. Within one uncrashed run NOTIFIED filters a
    logdate out, so notification stays once-per-logdate; a LATE row
    flips it back to NEW (higher batch_id wins) and it re-notifies
    when it re-finalizes. Marks carry the tick's batch_id, so the
    reader's same-batch ranking (`_lww`: NOTIFIED > CHECKED > NEW)
    advances the logdate without outranking later batches.
    RestNotifier swallows HTTP-level failures (recorded in .failed,
    DTEUtils.scala:29-32 semantics), so an unreachable endpoint still
    advances to NOTIFIED — the durable state tracks crashes, not
    HTTP."""
    rows = {**book.rows, **{r.logdate: r for r in new}}
    wm = max(
        (t for t in (book.wm, *(r.updatetime for r in new)) if t is not None),
        default=None,
    )
    finished = sorted(
        ld
        for ld, r in rows.items()
        if on_complete is not None
        and wm is not None
        and r.state != "NOTIFIED"
        and r.window_end is not None
        and r.window_end <= wm
    )

    def mark(state: str, logdates: list[str]) -> list[_Row]:
        return [
            rows[ld]._replace(batch_id=batch_id, state=state)
            for ld in logdates
        ]

    # Rows already CHECKED here are the reconcile path (a prior tick
    # crashed between its CHECKED append and the POST).
    first = new + mark(
        "CHECKED", [ld for ld in finished if rows[ld].state != "CHECKED"]
    )
    if first:
        _append(spark, cfg, first, book.ts_type)
    rows.update((r.logdate, r) for r in first)
    book.rows, book.wm = rows, wm
    if not finished:
        return []
    on_complete(finished)
    # NOTIFIED only after on_complete returned: a crash anywhere
    # above re-notifies on restart (at-least-once)
    notified = mark("NOTIFIED", finished)
    _append(spark, cfg, notified, book.ts_type)
    rows.update((r.logdate, r) for r in notified)
    return finished


def reconcile_notifications(
    spark: SparkSession,
    cfg: SinkConfig,
    on_complete: Callable[[list[str]], None],
) -> list[str]:
    """Startup reconcile: a crash between the durable CHECKED append
    and the POST leaves a logdate CHECKED-but-unnotified, which the
    per-batch epilogue re-delivers only with a micro-batch of new
    data. run_landing_stream runs this once on its restart path: it
    reloads the driver view from disk, then runs one epilogue tick
    (`_reconcile`). No bookkeeping on disk → []."""
    return _reconcile(spark, cfg, on_complete, reload=True)


def _reconcile(
    spark: SparkSession,
    cfg: SinkConfig,
    on_complete: Callable[[list[str]], None],
    reload: bool,
) -> list[str]:
    """One epilogue tick with no new rows, its marks carrying the
    view's max batch_id. The view is read from disk first on `reload`
    or while it is unloaded; otherwise the tick runs on the driver
    view alone."""
    book = _book(cfg)
    with book.lock:
        if reload or book.rows is None:
            book.load(spark, cfg)
        if not book.rows:
            return []
        max_bid = max(r.batch_id for r in book.rows.values())
        return _epilogue(spark, cfg, book, max_bid, [], on_complete)


def read_bookkeeping(spark: SparkSession, cfg: SinkConfig) -> DataFrame:
    """The last-write-wins bookkeeping on disk, in the appends' schema;
    a local_frame, so collecting it runs no Spark job."""
    from ..operators.registry import local_frame

    raw, ts_type = _read_appends(cfg)
    ddl = _DDL.format(cfg.partition_col, ts_type)
    return local_frame(spark, list(_lww(raw).values()), ddl)


def reconcile_timer(
    spark: SparkSession,
    cfg: SinkConfig,
    on_complete: Callable[[list[str]], None],
    interval_s: float = 300.0,
):
    """Periodic reconcile for long-lived continuous deployments: a
    ProcessingTime-trigger stream with no incoming data runs no
    micro-batches, so neither the per-batch epilogue nor the startup
    reconcile delivers a notification whose window closes while the
    stream idles. This daemon thread runs one epilogue tick every
    `interval_s`, the reference's leader-side timer loop
    (HiveBatchedSink.scala:205-227). A tick decides on the driver view
    under its lock (the driver is the view's only writer) and reads
    disk only while the view is unloaded; a tick that raises is logged
    and the next one retries. Returns a zero-arg stopper."""
    stop = threading.Event()

    def loop() -> None:
        while not stop.wait(interval_s):
            try:
                _reconcile(spark, cfg, on_complete, reload=False)
            except Exception:
                # never kill the stream over a reconcile hiccup; the
                # next tick (or restart reconcile) retries
                logging.getLogger(__name__).exception(
                    "reconcile tick failed for table %s", cfg.table
                )

    t = threading.Thread(target=loop, daemon=True, name=f"reconcile-{cfg.table}")
    t.start()

    def stopper() -> None:
        stop.set()
        t.join(timeout=5)

    return stopper


def run_landing_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    cfg: SinkConfig,
    on_complete: Callable[[list[str]], None] | None = None,
    fresh: bool = True,
) -> None:
    """The full streaming job: file source (stand-in for the Flume
    channel) → foreachBatch(land_batch), AvailableNow one-shot, run as
    `land_<table>` (its checkpoint directory, and the name its
    micro-batches carry in Spark's SQL execution store). With
    no explicit `on_complete` and cfg.notify_url set, finalized
    logdates are POSTed to the configured REST endpoint (A23 — the
    reference's DTE notification, HiveBatchedSink.scala:205-227).

    `fresh=True` (the harness default) wipes table + bookkeeping +
    checkpoint and starts a new generation with an empty driver view
    (no disk read). `fresh=False` is the RESTART path: prior state is
    kept and the driver view is reloaded from disk; with a notifier,
    one reconcile pass runs BEFORE the stream starts so a
    notification lost to a crash between the CHECKED append and the
    POST is re-delivered even if no new data ever arrives (the
    per-batch epilogue alone only reconciles on data-bearing
    batches)."""
    if on_complete is None and cfg.notify_url:
        from .notify import RestNotifier

        on_complete = RestNotifier(cfg.notify_url, cfg.notify_logid)
    book = _book(cfg)
    if fresh:
        shutil.rmtree(
            os.path.join(cfg.output_path, cfg.table), ignore_errors=True
        )
        shutil.rmtree(_book_path(cfg), ignore_errors=True)
        with book.lock:
            book.reset()
    elif on_complete is not None:
        reconcile_notifications(spark, cfg, on_complete)
    else:
        with book.lock:
            book.load(spark, cfg)
    run_stream(
        spark,
        staged_dir,
        schema,
        None,
        f"land_{cfg.table}",
        sink=lambda df, bid: land_batch(df, bid, cfg, on_complete),
        fresh=fresh,
    )
