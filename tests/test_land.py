"""land.py bookkeeping: the cumulative per-logdate `sinkcount`, the
per-batch Spark-job floor of a landing micro-batch, once-only
notification under concurrent reconciles of the shared driver view,
and the driver-written bookkeeping appends (one file each, in the
schema Spark wrote, readable next to Spark-written appends)."""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from flume_hive_batched_sink_spark.config import SinkConfig
from flume_hive_batched_sink_spark.streaming import land, stage
from flume_hive_batched_sink_spark.streaming.land import (
    land_batch,
    read_bookkeeping,
)

DAY1 = "202401010000"


def _staged_batch(spark, path: str, *ts: str, ts_type: str = "timestamp"):
    """A micro-batch as the file source hands it over: a parquet scan."""
    spark.createDataFrame(
        [(datetime.datetime.fromisoformat(t), 1) for t in ts],
        f"ts {ts_type}, v int",
    ).write.parquet(path)
    return spark.read.parquet(path)


def _disk_view(spark, cfg) -> dict:
    """read_bookkeeping as logdate → the driver view's first five
    fields (updatetime as epoch µs, read as _Book.load reads it)."""
    from pyspark.sql import functions as F

    return {
        r[0]: tuple(r[1:])
        for r in read_bookkeeping(spark, cfg)
        .select(
            cfg.partition_col,
            "sinkcount",
            F.unix_micros(F.col("updatetime").cast("timestamp")),
            "batch_id",
            "state",
        )
        .collect()
    }


def _fresh_view(spark, cfg) -> dict:
    """A restart's view: a new _Book loaded from disk, as logdate →
    its first five fields."""
    book = land._Book()
    book.load(spark, cfg)
    return {ld: tuple(r[1:5]) for ld, r in book.rows.items()}


def test_sinkcount_cumulative_across_batches(spark, tmp_path):
    """A logdate spread over two micro-batches (100 rows, then 50)
    lands 150 rows, and the bookkeeping must say 150 — the count is
    per logdate, not per batch (the reference reads its counter map,
    SURVEY.md §3.3)."""
    cfg = SinkConfig(
        table="events_cumulative",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    b0 = _staged_batch(
        spark, str(tmp_path / "in0"), *["2024-01-01 10:00:00"] * 100
    )
    b1 = _staged_batch(
        spark, str(tmp_path / "in1"), *["2024-01-01 11:00:00"] * 50
    )
    land_batch(b0, 0, cfg)
    land_batch(b1, 1, cfg)
    book = {
        r[cfg.partition_col]: r["sinkcount"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    landed = spark.read.parquet(os.path.join(cfg.output_path, cfg.table))
    assert landed.count() == 150
    assert book == {DAY1: 150}


def test_closing_batch_job_floor(spark, tmp_path):
    """The landing floor: a micro-batch that closes a logdate runs the
    data write and one small collect of its counts — at most 4 Spark
    jobs; its two bookkeeping appends are driver-written files — and
    no plan it executes scans an RDD built from Python objects (`Scan
    ExistingRDD`, which starts Python workers)."""
    cfg = SinkConfig(
        table="events_floor",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    b0 = _staged_batch(spark, str(tmp_path / "in0"), "2024-01-01 10:00:00")
    b1 = _staged_batch(
        spark,
        str(tmp_path / "in1"),
        "2024-01-01 11:00:00",
        "2024-01-02 12:00:00",
    )
    got: list[str] = []
    land_batch(b0, 0, cfg, on_complete=got.extend)
    key = f"land_batch:{cfg.table}"
    pushed_before = stage.PLAN_PUSH_COUNTS.get(key, 0)
    sc = spark.sparkContext
    group = f"land-floor-{os.getpid()}"
    sc.setJobGroup(group, "one closing landing micro-batch")
    try:
        land_batch(b1, 1, cfg, on_complete=got.extend)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == [DAY1]  # the batch did close a logdate
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 4, sorted(jobs)
    pushed = stage.PLAN_PUSH_COUNTS[key] - pushed_before
    # routed and the counts collect
    assert pushed == 2
    plans = stage.LAST_PLANS[key][-pushed:]
    assert not any("Scan ExistingRDD" in p for p in plans), plans


def test_concurrent_reconciles_notify_once(spark, tmp_path):
    """The driver view is shared by the stream's foreachBatch and the
    reconcile_timer thread. Eight threads reconciling one CHECKED-but-
    unnotified logdate at once must deliver it exactly once: a lost
    update between the completeness check and the NOTIFIED mark would
    notify it twice."""
    import sys
    import threading

    from flume_hive_batched_sink_spark.streaming.land import (
        reconcile_notifications,
    )

    cfg = SinkConfig(
        table="events_concurrent",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    b0 = _staged_batch(
        spark,
        str(tmp_path / "in0"),
        "2024-01-01 10:00:00",
        "2024-01-02 12:00:00",
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        land_batch(b0, 0, cfg, on_complete=crash)

    got: list[str] = []
    errors: list[Exception] = []

    def reconcile() -> None:
        try:
            reconcile_notifications(spark, cfg, got.extend)
        except Exception as exc:  # noqa: BLE001 — asserted empty below
            errors.append(exc)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reconcile) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == [DAY1]
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[DAY1] == "NOTIFIED"


def test_flagship_reads_landed_table(spark, tmp_path):
    """A landed table is a partitioned directory: `catalog.load_table`
    reads it (the timestamp-unit probe looks at its first data file,
    not at the directory), so the flagship aggregate runs on it and
    equals the oracle over the source events. A batch landed into an
    existing partition directory changes the table's fingerprint, so
    a re-read sees it."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flume_hive_batched_sink_spark.operators.pipeline import (
        FLAGSHIP_ORACLE,
        flagship,
    )

    from .oracle_harness import compare

    cfg = SinkConfig(table="events.parquet", output_path=str(tmp_path / "wh"))
    t0 = datetime.datetime(2024, 1, 1, 10, 0, tzinfo=datetime.timezone.utc)
    sources: list[str] = []

    def batch(i: int, n: int):
        path = str(tmp_path / f"in{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(
                        [t0 + datetime.timedelta(seconds=7 * j + i)
                         for j in range(n)],
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "event_type": [("click", "view", "buy")[j % 3]
                                   for j in range(n)],
                    "props": [f'{{"k": {i * 100 + j}}}' for j in range(n)],
                }
            ),
            path,
        )
        sources.append(path)
        return spark.read.parquet(path)

    def oracle_problems():
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet({sources})"
        )
        return compare(flagship(spark, cfg.output_path), con, FLAGSHIP_ORACLE)

    land_batch(batch(0, 30), 0, cfg)
    land_batch(batch(1, 12), 1, cfg)
    assert oracle_problems() == []
    part = os.path.join(cfg.output_path, cfg.table, "logdate=202401011000")
    before = set(os.listdir(part))
    land_batch(batch(2, 9), 2, cfg)  # same 5-minute logdate
    assert oracle_problems() == []
    # another writer commits a file into the existing partition
    # directory only: the table directory itself does not change
    (new,) = [
        f for f in set(os.listdir(part)) - before if f.startswith("part-")
    ]
    shutil.copy(
        os.path.join(part, new), os.path.join(part, "part-copy.parquet")
    )
    sources.append(sources[-1])
    assert oracle_problems() == []


@pytest.mark.parametrize(
    "session_tz", ["UTC", "America/New_York", "+08:00", "GMT+08:00"]
)
def test_ntz_event_time_lands_ntz_updatetime(spark, tmp_path, session_tz):
    """A stream whose event time is TIMESTAMP_NTZ keeps that type in
    its bookkeeping: `updatetime` reads back as timestamp_ntz, equal to
    the max `ts` of the batch that last wrote the logdate, in any
    session time zone. The CHECKED/NOTIFIED marks carry the value the
    driver view holds, so a reload from disk gives the view back."""
    from pyspark.sql import functions as F

    cfg = SinkConfig(
        table="events_ntz",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", session_tz)
    try:
        batches = [
            _staged_batch(
                spark,
                str(tmp_path / "in0"),
                "2024-01-01 10:00:00.123456",
                "2024-01-01 23:59:59.999999",
                ts_type="timestamp_ntz",
            ),
            _staged_batch(
                spark,
                str(tmp_path / "in1"),
                "2024-01-02 12:00:00.5",
                ts_type="timestamp_ntz",
            ),
        ]
        got: list[str] = []
        want = {}
        for bid, b in enumerate(batches):
            land_batch(b, bid, cfg, on_complete=got.extend)
            want.update(
                (r[0], r[1])
                for r in land.route_and_parse(b, cfg)
                .groupBy(cfg.partition_col)
                .agg(F.max("ts"))
                .collect()
            )
        book = read_bookkeeping(spark, cfg)
        assert book.schema["updatetime"].dataType.simpleString() == (
            "timestamp_ntz"
        )
        assert {
            r[cfg.partition_col]: r["updatetime"] for r in book.collect()
        } == want
        assert got  # a logdate closed, so the marks were written too
        assert _fresh_view(spark, cfg) == _disk_view(spark, cfg)
        live = land._book(cfg).rows
        assert {ld: tuple(r[1:5]) for ld, r in live.items()} == (
            _disk_view(spark, cfg)
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_restart_over_spark_written_append(spark, tmp_path, ts_type):
    """Bookkeeping written before appends were driver-written holds
    Spark-written append files. A restart over such a directory reads
    them together with the driver-written appends that follow: the
    reloaded view and read_bookkeeping agree, and `sinkcount` keeps
    accumulating across both kinds of file."""
    from pyspark.sql import functions as F

    from flume_hive_batched_sink_spark.operators.registry import local_frame

    cfg = SinkConfig(
        table="events_mixed_book",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    t0 = datetime.datetime(2024, 1, 1, 10, tzinfo=datetime.timezone.utc)
    # batch 0's NEW append for 100 rows of DAY1, as Spark wrote it
    local_frame(
        spark,
        [(DAY1, 100, int(t0.timestamp()) * 1_000_000, 0, "NEW")],
        f"`{cfg.partition_col}` string, sinkcount bigint, "
        "updatetime bigint, batch_id int, state string",
    ).withColumn(
        "updatetime", F.timestamp_micros("updatetime").cast(ts_type)
    ).write.mode("append").parquet(
        os.path.join(cfg.output_path, f"{cfg.table}__bookkeeping")
    )
    got: list[str] = []
    land_batch(
        _staged_batch(
            spark,
            str(tmp_path / "in1"),
            *["2024-01-01 11:00:00"] * 50,
            ts_type=ts_type,
        ),
        1,
        cfg,
        on_complete=got.extend,
    )
    land_batch(
        _staged_batch(
            spark,
            str(tmp_path / "in2"),
            "2024-01-02 12:00:00",
            ts_type=ts_type,
        ),
        2,
        cfg,
        on_complete=got.extend,
    )
    assert got == [DAY1]
    disk = _disk_view(spark, cfg)
    assert _fresh_view(spark, cfg) == disk
    t1 = datetime.datetime(2024, 1, 1, 11, tzinfo=datetime.timezone.utc)
    t2 = datetime.datetime(2024, 1, 2, 12, tzinfo=datetime.timezone.utc)
    assert disk == {
        DAY1: (150, int(t1.timestamp()) * 1_000_000, 2, "NOTIFIED"),
        "202401020000": (1, int(t2.timestamp()) * 1_000_000, 2, "NEW"),
    }
    book = read_bookkeeping(spark, cfg)
    assert book.schema["updatetime"].dataType.simpleString() == ts_type


def test_one_file_per_bookkeeping_append(spark, tmp_path, monkeypatch):
    """Each bookkeeping append is one file and nothing else: after
    every batch the directory holds exactly one `part-` file per
    append made so far (the NEW/CHECKED append, plus a NOTIFIED one
    when the batch closes a logdate), with no checksum, marker or
    temporary file beside them — also after an append whose write
    failed partway."""
    cfg = SinkConfig(
        table="events_book_files",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    book_dir = os.path.join(cfg.output_path, f"{cfg.table}__bookkeeping")
    batches = [
        # three logdates; the first two close → 2 appends
        ("2024-01-01 10:00:00", "2024-01-02 10:00:00", "2024-01-03 10:00:00"),
        # one open logdate → 1 append
        ("2024-01-03 11:00:00", "2024-01-03 12:00:00"),
        # closes 2024-01-03 → 2 appends
        ("2024-01-04 00:00:01",),
    ]
    appends, closed = [2, 3, 5], [2, 2, 3]
    got: list[str] = []
    for bid, ts in enumerate(batches):
        land_batch(
            _staged_batch(spark, str(tmp_path / f"in{bid}"), *ts),
            bid,
            cfg,
            on_complete=got.extend,
        )
        files = os.listdir(book_dir)
        assert len(files) == appends[bid], sorted(files)
        assert all(
            f.startswith("part-") and f.endswith(".parquet") for f in files
        ), sorted(files)
        assert len(got) == closed[bid]
    assert _fresh_view(spark, cfg) == _disk_view(spark, cfg)

    import pyarrow.parquet as pq

    def torn_write(table, where):
        with open(where, "wb") as f:
            f.write(b"PAR1")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    row = land._Row("2024-01-05", 1, 0, len(batches), "NEW", None)
    with pytest.raises(OSError, match="disk full"):
        land._append(spark, cfg, [row], "timestamp")
    assert len(os.listdir(book_dir)) == appends[-1]
