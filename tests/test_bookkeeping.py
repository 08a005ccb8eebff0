"""The bookkeeping reader (land.py `_read_appends` + `_lww`): the
driver reads the append files with pyarrow, so a restart's load,
`read_bookkeeping` and the startup reconcile run no Spark job; edge
directories load as empty; the last-write-wins view equals a DuckDB
`row_number()` window over the same files; and a failing reconcile
tick is logged while the timer keeps ticking."""

from __future__ import annotations

import contextlib
import datetime
import logging
import os
import time
import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flume_hive_batched_sink_spark.config import SinkConfig
from flume_hive_batched_sink_spark.operators.registry import local_frame
from flume_hive_batched_sink_spark.streaming import land
from flume_hive_batched_sink_spark.streaming.land import (
    land_batch,
    read_bookkeeping,
    reconcile_notifications,
    reconcile_timer,
)

DAY1, DAY2 = "202401010000", "202401020000"


@contextlib.contextmanager
def _jobs(spark):
    """The ids of the Spark jobs run inside the block, which runs in a
    job group of its own (filled in when the block exits)."""
    sc = spark.sparkContext
    group = f"book-{uuid.uuid4()}"
    ran: list[int] = []
    sc.setJobGroup(group, "bookkeeping reader")
    try:
        yield ran
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ran.extend(sc.statusTracker().getJobIdsForGroup(group))


def _cfg(tmp_path, table: str) -> SinkConfig:
    return SinkConfig(
        table=table, output_path=str(tmp_path), round_unit="day", round_value=1
    )


def _book_dir(cfg) -> str:
    return os.path.join(cfg.output_path, f"{cfg.table}__bookkeeping")


def _spark_append(spark, cfg, rows, ts_type: str) -> None:
    """One append as Spark writes it: a part file with `_SUCCESS` and
    `.crc` siblings. `rows` hold updatetime as epoch µs."""
    local_frame(
        spark,
        rows,
        f"`{cfg.partition_col}` string, sinkcount bigint, "
        "updatetime bigint, batch_id int, state string",
    ).withColumn(
        "updatetime", F.timestamp_micros("updatetime").cast(ts_type)
    ).write.mode("append").parquet(_book_dir(cfg))


def test_restart_reads_bookkeeping_without_spark_jobs(spark, tmp_path):
    """A restart's load of the driver view, `read_bookkeeping` and the
    startup reconcile each run 0 Spark jobs, and the reconcile still
    delivers the logdate a crashed POST left CHECKED."""
    cfg = _cfg(tmp_path, "events_book_jobs")
    batch = spark.createDataFrame(
        [
            (datetime.datetime.fromisoformat(t), 1)
            for t in ("2024-01-01 10:00:00", "2024-01-02 12:00:00")
        ],
        "ts timestamp, v int",
    )

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    with pytest.raises(RuntimeError, match="simulated crash"):
        land_batch(batch, 0, cfg, on_complete=crash)

    with _jobs(spark) as ran:
        book = land._Book()
        book.load(spark, cfg)
    assert ran == []
    assert {ld: r.state for ld, r in book.rows.items()} == {
        DAY1: "CHECKED",
        DAY2: "NEW",
    }
    with _jobs(spark) as ran:
        states = {
            r[cfg.partition_col]: r["state"]
            for r in read_bookkeeping(spark, cfg).collect()
        }
    assert ran == []
    assert states == {DAY1: "CHECKED", DAY2: "NEW"}
    got: list[str] = []
    with _jobs(spark) as ran:
        assert reconcile_notifications(spark, cfg, got.extend) == [DAY1]
    assert ran == []
    assert got == [DAY1]


def _torn_temp(spark, cfg) -> None:
    os.makedirs(_book_dir(cfg))
    with open(os.path.join(_book_dir(cfg), ".part-torn.parquet"), "wb") as f:
        f.write(b"PAR1")


def _spark_written(ts_out: str):
    def write(spark, cfg) -> None:
        prior = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", ts_out)
        try:
            _spark_append(
                spark, cfg, [(DAY1, 7, 1_704_103_200_000_000, 3, "NEW")],
                "timestamp",
            )
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prior)
        names = os.listdir(_book_dir(cfg))
        assert "_SUCCESS" in names
        assert any(n.startswith(".") and n.endswith(".crc") for n in names)

    return write


@pytest.mark.parametrize(
    "make, want",
    [
        (lambda spark, cfg: None, {}),
        (lambda spark, cfg: os.makedirs(_book_dir(cfg)), {}),
        (_torn_temp, {}),
        # as the package's sessions write it, and as Spark's default
        # INT96 encoding does
        (
            _spark_written("TIMESTAMP_MICROS"),
            {DAY1: (7, 1_704_103_200_000_000, 3, "NEW")},
        ),
        (
            _spark_written("INT96"),
            {DAY1: (7, 1_704_103_200_000_000, 3, "NEW")},
        ),
    ],
    ids=["missing", "empty", "torn_temp_only", "spark_micros", "spark_int96"],
)
def test_reader_edge_directories(spark, tmp_path, make, want):
    """Edge bookkeeping directories load with 0 Spark jobs: a missing
    or empty one, one holding only a torn `_append` (its hidden temp
    file), and a Spark-written append beside its `_SUCCESS` and `.crc`
    siblings."""
    cfg = _cfg(tmp_path, "events_book_edge")
    make(spark, cfg)
    with _jobs(spark) as ran:
        book = land._Book()
        book.load(spark, cfg)
        collected = read_bookkeeping(spark, cfg).collect()
    assert ran == []
    assert {ld: tuple(r[1:5]) for ld, r in book.rows.items()} == want
    assert book.wm == max((v[1] for v in want.values()), default=None)
    assert book.ts_type == "timestamp"
    assert len(collected) == len(want)


_LOGDATES = [DAY1, DAY2, "202401030000", None]
_STATES = ["NEW", "CHECKED", "NOTIFIED"]
_T0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, in µs


@st.composite
def _append_sets(draw):
    """Bookkeeping appends as landing writes them: per batch (ids
    increasing, with gaps) a NEW/CHECKED append and maybe a NOTIFIED
    one, no two rows sharing (logdate, batch_id, state). Every set
    holds all three states of one logdate in its first batch, a later
    batch's NEW for that closed logdate, a NULL logdate and a NULL
    updatetime. Each append is tagged with its writer: `_append` or
    Spark, both present."""
    n = draw(st.integers(2, 5))
    bids = sorted(draw(st.sets(st.integers(0, 40), min_size=n, max_size=n)))
    rows = []
    for bid in bids:
        for ld in draw(st.sets(st.sampled_from(_LOGDATES), max_size=4)):
            for state in draw(st.sets(st.sampled_from(_STATES), min_size=1)):
                rows.append((ld, bid, state))
    closed = draw(st.sampled_from(_LOGDATES[:-1]))
    rows += [(closed, bids[0], s) for s in _STATES]
    rows += [(closed, bids[-1], "NEW"), (None, bids[-1], "CHECKED")]
    rows = sorted(set(rows), key=lambda r: (r[1], _STATES.index(r[2])))
    full = [
        (
            ld,
            draw(st.integers(0, 10_000)),
            draw(st.integers(0, 3 * 86_400) | st.none()),
            bid,
            state,
        )
        for ld, bid, state in rows
    ]
    i = draw(st.integers(0, len(full) - 1))
    full[i] = full[i][:2] + (None,) + full[i][3:]
    full = [
        r[:2] + (None if r[2] is None else _T0 + r[2] * 1_000_000,) + r[3:]
        for r in full
    ]
    appends = []
    for bid in bids:
        rs = [r for r in full if r[3] == bid]
        for part in (
            [r for r in rs if r[4] != "NOTIFIED"],
            [r for r in rs if r[4] == "NOTIFIED"],
        ):
            if part:
                appends.append(part)
    writers = draw(
        st.lists(st.booleans(), min_size=len(appends), max_size=len(appends))
    )
    writers[0], writers[-1] = True, False  # both writers, every set
    return list(zip(writers, appends))


@given(appends=_append_sets(), ts_type=st.sampled_from(["timestamp", "timestamp_ntz"]))
@settings(max_examples=6, deadline=None)
def test_reader_matches_duckdb_window(spark, tmp_path_factory, appends, ts_type):
    """The reader's last-write-wins view equals DuckDB's
    `row_number() OVER (PARTITION BY logdate ORDER BY batch_id DESC,
    state rank DESC) = 1` over the same files, `wm` equals their max
    updatetime, and `read_bookkeeping` gives the same view in the
    appends' schema."""
    import duckdb

    cfg = _cfg(tmp_path_factory.mktemp("book"), "events_book_lww")
    for by_spark, rows in appends:
        if by_spark:
            _spark_append(spark, cfg, rows, ts_type)
        else:
            land._append(
                spark, cfg, [land._Row(*r, None) for r in rows], ts_type
            )
    files = [
        os.path.join(_book_dir(cfg), n)
        for n in os.listdir(_book_dir(cfg))
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet({files})")
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            """
            SELECT logdate, sinkcount, epoch_us(updatetime), batch_id, state
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY logdate
                    ORDER BY batch_id DESC,
                        CASE state WHEN 'NOTIFIED' THEN 2
                                   WHEN 'CHECKED' THEN 1 ELSE 0 END DESC
                ) AS rn
                FROM raw
            ) WHERE rn = 1
            """
        ).fetchall()
    }
    (wm,) = con.execute("SELECT max(epoch_us(updatetime)) FROM raw").fetchone()

    book = land._Book()
    book.load(spark, cfg)
    assert {ld: tuple(r[1:5]) for ld, r in book.rows.items()} == want
    assert book.wm == wm
    assert book.ts_type == ts_type
    frame = read_bookkeeping(spark, cfg)
    assert frame.schema["updatetime"].dataType.simpleString() == ts_type
    got = frame.select(
        cfg.partition_col,
        "sinkcount",
        F.unix_micros(F.col("updatetime").cast("timestamp")),
        "batch_id",
        "state",
    ).collect()
    assert {r[0]: tuple(r[1:]) for r in got} == want


def test_reconcile_timer_logs_failing_tick(spark, tmp_path, caplog):
    """A reconcile tick that raises is logged with its table, and the
    timer keeps ticking: the next tick delivers the logdate."""
    cfg = _cfg(tmp_path, "events_book_timer")
    batch = spark.createDataFrame(
        [
            (datetime.datetime.fromisoformat(t), 1)
            for t in ("2024-01-01 10:00:00", "2024-01-02 12:00:00")
        ],
        "ts timestamp, v int",
    )

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    with pytest.raises(RuntimeError, match="simulated crash"):
        land_batch(batch, 0, cfg, on_complete=crash)

    calls: list[list[str]] = []
    got: list[str] = []

    def flaky(logdates):
        calls.append(list(logdates))
        if len(calls) == 1:
            raise RuntimeError("endpoint down")
        got.extend(logdates)

    with caplog.at_level(logging.ERROR, logger=land.__name__):
        stop = reconcile_timer(spark, cfg, flaky, interval_s=0.3)
        try:
            deadline = time.time() + 30
            while not got and time.time() < deadline:
                time.sleep(0.1)
        finally:
            stop()
    assert got == [DAY1]
    failed = [r for r in caplog.records if r.name == land.__name__]
    assert failed, caplog.text
    assert cfg.table in failed[0].getMessage()
    assert "endpoint down" in str(failed[0].exc_info[1])
