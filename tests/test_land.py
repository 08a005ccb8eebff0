"""land.py bookkeeping: the cumulative per-logdate `sinkcount`, the
per-batch Spark-job floor of a landing micro-batch, and once-only
notification under concurrent reconciles of the shared driver view."""

from __future__ import annotations

import datetime
import os
import shutil

import pytest

from flume_hive_batched_sink_spark.config import SinkConfig
from flume_hive_batched_sink_spark.streaming import stage
from flume_hive_batched_sink_spark.streaming.land import (
    land_batch,
    read_bookkeeping,
)

DAY1 = "202401010000"


def _staged_batch(spark, path: str, *ts: str):
    """A micro-batch as the file source hands it over: a parquet scan."""
    spark.createDataFrame(
        [(datetime.datetime.fromisoformat(t), 1) for t in ts],
        "ts timestamp, v int",
    ).write.parquet(path)
    return spark.read.parquet(path)


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
    data write, one small collect of its counts and two tiny
    bookkeeping appends — at most 7 Spark jobs — and no plan it
    executes scans an RDD built from Python objects (`Scan
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
    assert 0 < len(jobs) <= 7, sorted(jobs)
    pushed = stage.PLAN_PUSH_COUNTS[key] - pushed_before
    # routed, the counts collect and both appends
    assert pushed == 4
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
