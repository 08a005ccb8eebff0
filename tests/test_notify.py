"""A23 REST notifier: unit tests against a real local HTTP server
(happy path, retry-on-5xx, connection-refused swallowing) plus the
land.py integration — a landing stream with cfg.notify_url set must
POST {url}/{logid}/{logdate} for exactly the finalized logdates."""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from flume_hive_batched_sink_spark.streaming.notify import RestNotifier


class _Recorder(BaseHTTPRequestHandler):
    paths: list[str] = []
    fail_first_n: dict[str, int] = {}
    lock = threading.Lock()

    def do_POST(self):  # noqa: N802 — http.server API
        with _Recorder.lock:
            _Recorder.paths.append(self.path)
            remaining = _Recorder.fail_first_n.get(self.path, 0)
            if remaining > 0:
                _Recorder.fail_first_n[self.path] = remaining - 1
                self.send_response(503)
                self.end_headers()
                return
        self.send_response(204)
        self.end_headers()

    def log_message(self, *args):  # silence test output
        pass


@pytest.fixture
def server():
    _Recorder.paths = []
    _Recorder.fail_first_n = {}
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Recorder)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", _Recorder
    srv.shutdown()
    srv.server_close()


def test_notifier_posts_per_logdate(server):
    url, rec = server
    n = RestNotifier(url, 42)
    n(["20240101", "20240102"])
    assert rec.paths == ["/42/20240101", "/42/20240102"]
    assert n.sent == ["20240101", "20240102"] and n.failed == []


def test_notifier_retries_transient_5xx(server):
    url, rec = server
    rec.fail_first_n["/7/20240103"] = 2  # two 503s, then 204
    n = RestNotifier(url, 7, retries=3, backoff=0.01)
    n(["20240103"])
    assert rec.paths.count("/7/20240103") == 3
    assert n.sent == ["20240103"] and n.failed == []


def test_notifier_swallows_exhausted_failures(server):
    url, rec = server
    rec.fail_first_n["/7/20240104"] = 99  # always 503
    n = RestNotifier(url, 7, retries=2, backoff=0.01)
    n(["20240104"])  # must NOT raise (DTEUtils.scala:29-32 semantics)
    assert n.failed == ["20240104"] and n.sent == []
    assert rec.paths.count("/7/20240104") == 2


def test_notifier_swallows_connection_refused():
    # port 1 is never listening; error must be swallowed, not raised
    n = RestNotifier("http://127.0.0.1:1", 9, retries=2, backoff=0.01)
    n(["20240105"])
    assert n.failed == ["20240105"] and n.sent == []


def test_live_counters_endpoint(spark):
    """A16 MBean parity: the HTTP endpoint must serve the reporter's
    CURRENT in-memory totals at request time — a poll between two
    streaming runs sees the first run's counters, then the second's
    accumulate on top, without restarting the server. 404 for other
    paths."""
    import json
    import urllib.error
    import urllib.request

    from flume_hive_batched_sink_spark.operators import QUERIES
    from flume_hive_batched_sink_spark.streaming.counters import (
        install,
        serve_counters,
        uninstall,
    )

    rep = install(spark)
    srv, port = serve_counters(rep)
    try:
        def get():
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/counters", timeout=5
            ) as r:
                assert r.status == 200
                return json.loads(r.read())

        assert get() == {}  # live: empty before any progress event
        QUERIES["stream_tumbling_5min"](spark, "/root/testdata/sf0.001")
        snap1 = get()
        assert snap1["stream_tumbling_5min"]["batches"] >= 1
        QUERIES["stream_dedup"](spark, "/root/testdata/sf0.001")
        snap2 = get()
        assert "stream_dedup" in snap2  # accumulated, same server
        # listener events are ASYNC — a trailing progress event from
        # query 1 may land after snap1, so assert monotone, not equal
        assert (
            snap2["stream_tumbling_5min"]["batches"]
            >= snap1["stream_tumbling_5min"]["batches"]
        )
        assert json.loads(rep.counters_json()) == snap2  # MBean twin
        with pytest.raises(urllib.error.HTTPError):
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/nope", timeout=5
            )
    finally:
        srv.shutdown()
        srv.server_close()
        uninstall(spark, rep)


def test_landing_stream_notifies_finalized_logdates(server, spark):
    """End-to-end A23 parity: land the staged events with
    cfg.notify_url set and no explicit callback — every logdate whose
    day-window closed by the final batch's max event time must arrive
    at the REST endpoint as POST /{logid}/{logdate}, and only those
    (the last, still-open logdate must NOT be notified)."""
    import os

    from pyspark.sql import functions as F

    from flume_hive_batched_sink_spark.config import SinkConfig
    from flume_hive_batched_sink_spark.catalog import load_table
    from flume_hive_batched_sink_spark.scratch import SCRATCH
    from flume_hive_batched_sink_spark.streaming.land import (
        run_landing_stream,
    )
    from flume_hive_batched_sink_spark.streaming.streaming_ops import (
        _staged_events,
    )

    url, rec = server
    sf = "/root/testdata/sf0.001"
    staged, schema = _staged_events(spark, sf)
    cfg = SinkConfig(
        table="events_landed_notify",
        output_path=os.path.join(SCRATCH, "warehouse"),
        round_unit="day",
        round_value=1,
        notify_url=url,
        notify_logid=11,
    )
    run_landing_stream(spark, staged, schema, cfg)
    max_ts = (
        load_table(spark, sf, "events").agg(F.max("ts")).collect()[0][0]
    )
    landed = spark.read.parquet(os.path.join(cfg.output_path, cfg.table))
    logdates = sorted(
        r[0]
        for r in landed.select(
            F.col(cfg.partition_col).cast("string")  # partition-dir
        ).distinct().collect()  # inference reads the digits as int
    )
    # expected = logdates whose day ended on/before the max event time
    import datetime

    final = {
        d for d in logdates
        if datetime.datetime.strptime(d, "%Y%m%d%H%M")
        + datetime.timedelta(days=1)
        <= max_ts
    }
    assert final and final < set(logdates)  # some closed, some open
    assert set(rec.paths) == {f"/11/{d}" for d in final}


def test_notification_crash_window_reconciled_on_restart(spark, tmp_path):
    """r11 verdict #5: a crash between the durable CHECKED append and
    the REST POST must NOT lose the notification. Simulate the crash
    by raising inside on_complete (the POST never 'happened'); the
    next epilogue tick — the restart — must see the CHECKED-but-
    unnotified logdate and re-notify it (at-least-once across
    crashes), and an uncrashed run must still notify once per
    logdate (NOTIFIED filters it from later ticks)."""
    import datetime

    from pyspark.sql import functions as F

    from flume_hive_batched_sink_spark.config import SinkConfig
    from flume_hive_batched_sink_spark.streaming.land import (
        land_batch,
        read_bookkeeping,
    )

    cfg = SinkConfig(
        table="events_crashwin",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )

    def batch(*ts):
        return spark.createDataFrame(
            [(datetime.datetime.fromisoformat(t), 1) for t in ts],
            "ts timestamp, v int",
        )

    day1, day2, day3 = "202401010000", "202401020000", "202401030000"

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    # batch 0: day1 closes (max ts is on day2) → CHECKED appended,
    # then the 'POST' crashes — day1 is checked-but-unnotified.
    with pytest.raises(RuntimeError, match="simulated crash"):
        land_batch(
            batch("2024-01-01 10:00:00", "2024-01-02 12:00:00"),
            0,
            cfg,
            on_complete=crash,
        )
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[day1] == "CHECKED"  # durably checked, never notified

    # batch 1 = the restart: day2 also closes now; the reconcile must
    # deliver BOTH the newly-finished day2 and the crashed-window day1.
    got: list[str] = []
    land_batch(batch("2024-01-03 00:01:00"), 1, cfg, on_complete=got.extend)
    assert got == [day1, day2]
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[day1] == "NOTIFIED" and states[day2] == "NOTIFIED"
    assert states[day3] == "NEW"  # still open

    # batch 2, no crash: nothing re-notifies (once-per-logdate).
    got2: list[str] = []
    land_batch(batch("2024-01-03 02:00:00"), 2, cfg, on_complete=got2.extend)
    assert got2 == []


def test_idle_restart_reconciles_without_new_data(spark, tmp_path):
    """r12 advice: the crash-window reconcile must NOT require a
    subsequent data-bearing batch. After a crash between the CHECKED
    append and the POST, a restarted-but-IDLE stream (no new
    micro-batches at all) must still deliver the lost notification —
    reconcile_notifications runs at startup (run_landing_stream's
    fresh=False path) and advances the logdate to NOTIFIED."""
    import datetime

    from flume_hive_batched_sink_spark.config import SinkConfig
    from flume_hive_batched_sink_spark.streaming.land import (
        land_batch,
        read_bookkeeping,
        reconcile_notifications,
    )

    cfg = SinkConfig(
        table="events_idlerestart",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    day1 = "202401010000"

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    df = spark.createDataFrame(
        [
            (datetime.datetime.fromisoformat(t), 1)
            for t in ("2024-01-01 10:00:00", "2024-01-02 12:00:00")
        ],
        "ts timestamp, v int",
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        land_batch(df, 0, cfg, on_complete=crash)
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[day1] == "CHECKED"  # durably checked, never notified

    # the restart: NO new data — just the startup reconcile pass
    got: list[str] = []
    assert reconcile_notifications(spark, cfg, got.extend) == [day1]
    assert got == [day1]
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[day1] == "NOTIFIED"

    # a second idle reconcile is a no-op (once per logdate)
    got2: list[str] = []
    assert reconcile_notifications(spark, cfg, got2.extend) == []
    assert got2 == []

    # an EMPTY output dir (nothing ever landed) reconciles to []
    cfg2 = SinkConfig(table="never_ran", output_path=str(tmp_path))
    assert reconcile_notifications(spark, cfg2, got2.extend) == []


def test_idle_stream_restart_delivers_pending_post(spark, tmp_path):
    """r13 verdict #8 'Done' criterion: START A STREAM over an EMPTY
    source with a pending CHECKED-unnotified row and observe the
    POST. run_landing_stream(fresh=False) must deliver the crashed
    notification via its startup reconcile even though the stream
    itself processes zero micro-batches of data."""
    import datetime
    import os

    from flume_hive_batched_sink_spark.config import SinkConfig
    from flume_hive_batched_sink_spark.streaming.land import (
        land_batch,
        read_bookkeeping,
        run_landing_stream,
    )

    cfg = SinkConfig(
        table="events_idlestream",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    day1 = "202401010000"

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    df = spark.createDataFrame(
        [
            (datetime.datetime.fromisoformat(t), 1)
            for t in ("2024-01-01 10:00:00", "2024-01-02 12:00:00")
        ],
        "ts timestamp, v int",
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        land_batch(df, 0, cfg, on_complete=crash)

    empty_src = os.path.join(str(tmp_path), "empty_staged")
    os.makedirs(empty_src, exist_ok=True)
    got: list[str] = []
    run_landing_stream(
        spark,
        empty_src,
        "ts timestamp, v int",
        cfg,
        on_complete=got.extend,
        fresh=False,
    )
    assert got == [day1]
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[day1] == "NOTIFIED"


def test_reconcile_timer_delivers_while_idle(spark, tmp_path):
    """The long-idle window the startup reconcile can't close: the
    stream is already up (no restarts, no data), and a CHECKED-
    unnotified row is left by a POST that crashed. reconcile_timer's
    periodic pass must deliver it without any micro-batch, exactly
    once, and durably mark it NOTIFIED. Its ticks decide on the loaded
    driver view and write their marks from the driver, so they run no
    Spark job (no bookkeeping is read from disk)."""
    import datetime
    import os
    import time

    from flume_hive_batched_sink_spark.config import SinkConfig
    from flume_hive_batched_sink_spark.streaming.land import (
        land_batch,
        read_bookkeeping,
        reconcile_timer,
    )

    cfg = SinkConfig(
        table="events_idletimer",
        output_path=str(tmp_path),
        round_unit="day",
        round_value=1,
    )
    day1 = "202401010000"

    def crash(logdates):
        raise RuntimeError("simulated crash before POST")

    sc = spark.sparkContext
    # the landing's own jobs run in a job group of their own, so every
    # job outside any group below is one the timer thread ran
    sc.setJobGroup(f"timer-setup-{os.getpid()}", "the crashed landing")
    try:
        df = spark.createDataFrame(
            [
                (datetime.datetime.fromisoformat(t), 1)
                for t in ("2024-01-01 10:00:00", "2024-01-02 12:00:00")
            ],
            "ts timestamp, v int",
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            land_batch(df, 0, cfg, on_complete=crash)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))

    got: list[str] = []
    stop = reconcile_timer(spark, cfg, got.extend, interval_s=0.5)
    try:
        deadline = time.time() + 30
        while not got and time.time() < deadline:
            time.sleep(0.2)
        # give it one more tick to prove once-per-logdate
        time.sleep(1.5)
    finally:
        stop()
    assert got == [day1]
    ran = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
    assert not ran, sorted(ran)
    states = {
        r[cfg.partition_col]: r["state"]
        for r in read_bookkeeping(spark, cfg).collect()
    }
    assert states[day1] == "NOTIFIED"
