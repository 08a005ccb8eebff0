"""Landing workloads: micro-batches through `run_landing_stream`.

Closed loop with one caller: one `run_landing_stream` call (AvailableNow,
one file per trigger) lands every staged batch, so the next micro-batch
starts only after the previous one commits.  The stream's first
batches are the warm-up; the rest are timed, one figure per batch.
"""

from __future__ import annotations

import datetime as dt
import gc
import os
import statistics
import threading
import time
from typing import NamedTuple

import pyarrow.dataset as ds

from .gen import Traffic, expected, generate, stage
from .sparkstat import StatusStore, own_cpu_s
from .trace import Tracer, tail_percentile

# durationMs parts of one trigger, in the order the micro-batch engine
# runs them
PARTS = (
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
)
STREAM_METRICS = {
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
    "addBatch": "stream.add_batch_ms",
}
BODY_SCHEMA = "k int, user_id bigint, value double, msg string"
PARSE_PROBE_EVENTS = 150_000


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Pass(NamedTuple):
    committed: int  # micro-batches the checkpoint shows committed
    events: list[dict]  # progress of the data-bearing triggers
    arrivals: list[tuple[float, str]]  # (time, logdate) at the endpoint


class Progress:
    """Collects `StreamingQueryProgress` events as they arrive."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list = []
        self._cv = threading.Condition()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                with outer._cv:
                    outer.events.append(
                        {
                            "run_id": str(p.runId),
                            "batch": p.batchId,
                            "start": _epoch(p.timestamp),
                            "rows": p.numInputRows,
                            "ms": dict(p.durationMs),
                            # the benchmark's CPU seconds and the clock
                            # when the event reached Python, just after
                            # the trigger ended
                            "cpu": own_cpu_s(),
                            "t": time.perf_counter(),
                        }
                    )
                    outer._cv.notify_all()

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def take(self, n: int, timeout: float = 30.0) -> list[dict]:
        """Wait until `n` batch events arrived; return and clear them.
        Only data-bearing triggers of the latest stream count: a late
        event of an earlier stream is dropped."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while sum(e["rows"] > 0 for e in self.events) < n:
                left = deadline - time.monotonic()
                if left <= 0:
                    break
                self._cv.wait(left)
            latest = self.events[-1]["run_id"] if self.events else None
            out = [e for e in self.events
                   if e["rows"] > 0 and e["run_id"] == latest]
            self.events = []
        return sorted(out, key=lambda e: e["batch"])

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under `path`; hidden files
    (checksums, commit markers) are left out."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _flagship_landed(spark, data_path: str):
    """The flagship aggregate (`operators.pipeline.flagship`) over the
    landed table.  `flagship` itself loads its input through
    `catalog.load_table`, which reads timestamp units from a parquet
    file at the top of the table directory; a landed table has its
    files only in partition directories, so that load fails.  The same
    plan is therefore built here on a plain read of the table."""
    from pyspark.sql import functions as F

    from flume_hive_batched_sink_spark.functions.partition import (
        derive_logdate,
    )
    from flume_hive_batched_sink_spark.sources.parse import parse_column

    events = spark.read.parquet(data_path)
    parsed = events.withColumn(
        "parsed", parse_column("props", "json", "k int")
    )
    routed = parsed.withColumn("logdate", derive_logdate("ts", 300))
    counted = routed.groupBy("logdate", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("parsed.k").cast("long")).alias("sum_k"),
    )
    return counted.filter(F.col("n_events") >= 2)


def _readback(spark, cfg):
    """Bookkeeping collected, plus the flagship aggregate over the
    freshly landed table."""
    from flume_hive_batched_sink_spark.streaming.land import (
        read_bookkeeping,
    )

    book = read_bookkeeping(spark, cfg).collect()
    flag = _flagship_landed(
        spark, os.path.join(cfg.output_path, cfg.table)
    ).collect()
    return book, flag


def _committed_batches(cfg) -> int:
    """Micro-batches the last `run_landing_stream` call committed, read
    from its checkpoint's `commits/` directory."""
    from flume_hive_batched_sink_spark.streaming.stage import SCRATCH

    commits = os.path.join(SCRATCH, "checkpoints", f"land_{cfg.table}",
                           "commits")
    return sum(n.isdigit() for n in os.listdir(commits))


def run(spark, traffic: Traffic, warm_batches: int, seed: int, work: str,
        tracer: Tracer, endpoint, setup_reps: int) -> dict:
    from flume_hive_batched_sink_spark.config import SinkConfig
    from flume_hive_batched_sink_spark.streaming.land import (
        run_landing_stream,
    )

    res: dict = {"gen_s": [], "gen_cpu": []}
    stage_dir = os.path.join(work, "stage")
    # input generation and staging, repeated: set-up time is reported
    # as the median over the repetitions
    for _ in range(setup_reps):
        c0, t0 = own_cpu_s(), time.perf_counter()
        with tracer.span("setup.generate", trace="setup"):
            batches = generate(traffic, seed)
            in_bytes = stage(batches, stage_dir)
        res["gen_s"].append(time.perf_counter() - t0)
        res["gen_cpu"].append(own_cpu_s() - c0)
    exp = expected(batches, in_bytes)
    del batches
    schema = spark.read.parquet(stage_dir).schema

    cfg = SinkConfig(
        table="events.parquet",
        output_path=os.path.join(work, "warehouse"),
        serde_name="json",
        serde_properties={"schema": BODY_SCHEMA},
        notify_url=endpoint.url,
        notify_logid=7,
    )
    progress = Progress(spark)
    try:
        # one stream over every staged batch; its first `warm_batches`
        # triggers are the warm-up (stream start, codegen, JIT), the
        # rest are timed.  A full collection first, so the stream does
        # not pay for garbage the set-up left.
        gc.collect()
        spark._jvm.System.gc()
        c0, t0 = own_cpu_s(), time.perf_counter()
        run_landing_stream(spark, stage_dir, schema, cfg)
        stream = Pass(_committed_batches(cfg),
                      progress.take(traffic.batches), endpoint.take())

        c1, t1 = own_cpu_s(), time.perf_counter()
        book, flag = _readback(spark, cfg)
        read_s, read_cpu = time.perf_counter() - t1, own_cpu_s() - c1
        tracer.add("readback", t1, t1 + read_s, trace="readback")
    finally:
        progress.close()

    # --- metrics ------------------------------------------------------
    events = stream.events
    if len(events) != traffic.batches:
        raise RuntimeError(
            f"{len(events)} of {traffic.batches} progress events arrived"
        )
    cpu_s, wall_s = _per_batch((c0, t0), events)
    timed = events[warm_batches:]
    res["warmup_cpu"] = sum(cpu_s[:warm_batches])
    res["warmup_s"] = sum(wall_s[:warm_batches])
    tracer.add("setup.warmup", t0, t0 + res["warmup_s"], trace="setup")
    res["timed_s"] = sum(wall_s[warm_batches:])
    res["timed_cpu"] = cpu_s[warm_batches:]
    trig = [e["ms"].get("triggerExecution", 0) / 1000.0 for e in timed]
    res["op_cpu_s"] = statistics.median(res["timed_cpu"])
    res["pass_s"] = res["timed_s"]
    res["op_p50_s"] = statistics.median(trig)
    res["readback_s"] = read_s
    res["readback_cpu_s"] = read_cpu
    res["events_per_s"] = len(timed) * traffic.batch_events / res["timed_s"]
    res["op_tail"] = tail_percentile(trig)
    starts = {e["batch"]: e["start"] for e in events}
    first: dict[str, float] = {}
    for t, ld in stream.arrivals:
        first.setdefault(ld, t)
    lags, missing = [], 0
    for ld, b in exp.closes_at_batch.items():
        if b is None:
            continue
        if ld not in first:
            missing += 1
        elif b in starts:
            lags.append(first[ld] - starts[b])
    n_closing = sum(b is not None for b in exp.closes_at_batch.values())
    res["notify_lag_s"] = statistics.median(lags) if lags else None
    res["notify"] = {
        "posts": len(stream.arrivals),
        "posts_per_logdate": len(stream.arrivals) / max(1, n_closing),
        "non2xx_or_refused": endpoint.non2xx + missing,
    }
    # operations: batches and expected notifications
    res["attempted"] = traffic.batches + n_closing
    res["failures"] = missing + max(0, traffic.batches - stream.committed)
    res["growth"] = _growth(timed)

    # --- output checks (untimed) --------------------------------------
    data_path = os.path.join(cfg.output_path, cfg.table)
    book_path = data_path + "__bookkeeping"
    landed = ds.dataset(data_path, format="parquet", partitioning="hive")
    tab = landed.to_table(columns=["event_id", "logdate"])
    ids = tab.column("event_id").to_numpy()
    got_rows: dict[str, int] = {}
    for ld, n in zip(*_value_counts(tab.column("logdate"))):
        got_rows[str(ld)] = n
    checks = {
        "rows_per_logdate": got_rows == exp.rows_per_logdate,
        "each_event_once": len(ids) == exp.n_events
        and len(set(ids.tolist())) == exp.n_events,
        "every_closed_logdate_notified": missing == 0,
        "flagship_readback": {
            (r["logdate"], r["event_type"]): (r["n_events"], r["sum_k"])
            for r in flag
        } == exp.flagship,
    }
    res["checks"] = checks
    book_rows = {r["logdate"]: r["sinkcount"] for r in book}
    res["book_drift_rows"] = sum(
        abs(exp.rows_per_logdate.get(ld, 0) - book_rows.get(ld, 0))
        for ld in set(exp.rows_per_logdate) | set(book_rows)
    )
    data_files, data_bytes = _dir_bytes(data_path)
    book_files, book_bytes = _dir_bytes(book_path)
    res["bytes_stored_per_input_byte"] = (data_bytes + book_bytes) / in_bytes
    res["files_per_batch"] = data_files / traffic.batches
    res["bytes_written_per_event"] = data_bytes / exp.n_events
    res["book_files"] = book_files

    if tracer.enabled:
        # the stream ran exactly as in an untraced run: its spans are
        # built afterwards from the progress events, and the status
        # store is read after it ended.  The overhead is that work,
        # over the timed batches' wall time.
        t2 = time.perf_counter()
        _trace_pass(spark, tracer, 1, stream)
        res["tracing_overhead"] = (time.perf_counter() - t2) / res["timed_s"]
        res["traced_events"] = timed
        res["parse_route_s_per_mevent"] = _parse_route(
            spark, traffic, seed, work, cfg, tracer
        )
    return res


def _per_batch(start: tuple[float, float],
               events: list[dict]) -> tuple[list[float], list[float]]:
    """CPU seconds and wall seconds of each trigger: from the listener's
    sample at the end of the trigger before it (for the first, from
    `start`, the stream's (CPU, clock) at its start) to the sample at
    its own end."""
    ends = [start] + [(e["cpu"], e["t"]) for e in events]
    pairs = list(zip(ends, ends[1:]))
    return ([b[0] - a[0] for a, b in pairs],
            [b[1] - a[1] for a, b in pairs])


def layers(res: dict, traffic: dict) -> dict:
    """Per-layer figures of a traced run, from its timed batches."""
    events = res["traced_events"]
    out = {
        metric: statistics.median([e["ms"].get(part, 0) for e in events])
        for part, metric in STREAM_METRICS.items()
    }
    pairs = [(e["ms"].get("addBatch", 0), e["jobs"]) for e in events
             if e.get("jobs") is not None]
    mev = traffic["batch_events"] / 1e6

    def med(f):
        return statistics.median([f(a, j) for a, j in pairs]) if pairs else 0.0

    out.update({
        "land.jobs_per_batch": med(lambda a, j: j.jobs),
        "land.stages_per_batch": med(lambda a, j: j.stages),
        "land.tasks_per_batch": med(lambda a, j: j.tasks),
        "land.job_wall_ms_per_batch": med(lambda a, j: j.job_wall_ms),
        "land.driver_gap_ms_per_batch": med(lambda a, j: a - j.job_wall_ms),
        "land.executor_run_ms_per_mevent": med(
            lambda a, j: j.executor_run_ms / mev
        ),
        "land.files_per_batch": res["files_per_batch"],
        "land.bytes_written_per_event": res["bytes_written_per_event"],
        "land.book_files": res["book_files"],
        "land.batch_growth": res["growth"],
        "land.book_drift_rows": res["book_drift_rows"],
        "land.events_per_s": res["events_per_s"],
        "land.bytes_stored_per_input_byte": res[
            "bytes_stored_per_input_byte"
        ],
        "parse_route.s_per_mevent": res["parse_route_s_per_mevent"],
        "notify.posts": res["notify"]["posts"],
        "notify.posts_per_logdate": res["notify"]["posts_per_logdate"],
        "notify.non2xx_or_refused": res["notify"]["non2xx_or_refused"],
        "notify.lag_s": res["notify_lag_s"] or 0.0,
        "bench.tracing_overhead": res["tracing_overhead"],
    })
    return out


def _growth(events: list[dict]) -> float:
    """Median triggerExecution of the last quarter of one stream's
    batches over that of its first quarter: above 1 when per-batch
    cost piles up as the stream's table and bookkeeping grow."""
    ms = [e["ms"].get("triggerExecution", 0) for e in events]
    q = max(1, len(ms) // 4)
    return statistics.median(ms[-q:]) / statistics.median(ms[:q])


def _parse_route(spark, traffic, seed, work, cfg, tracer) -> float:
    """Seconds per million events of `route_and_parse` alone, run to
    the noop sink on one staged batch of PARSE_PROBE_EVENTS events, so
    that parsing and routing, not fixed cost, dominate."""
    from dataclasses import replace

    from flume_hive_batched_sink_spark.streaming.land import route_and_parse

    probe = replace(traffic, batches=1, batch_events=PARSE_PROBE_EVENTS)
    probe_dir = os.path.join(work, "parse_stage")
    stage(generate(probe, seed + 2_000_003), probe_dir)
    routed = route_and_parse(spark.read.parquet(probe_dir), cfg)
    routed.write.mode("overwrite").format("noop").save()  # warm
    t0 = time.perf_counter()
    routed.write.mode("overwrite").format("noop").save()
    took = time.perf_counter() - t0
    tracer.add("parse_route", t0, t0 + took, trace="parse_route")
    return took / (PARSE_PROBE_EVENTS / 1e6)


def _value_counts(col):
    vc = col.value_counts()
    return vc.field("values").to_pylist(), vc.field("counts").to_pylist()


def _trace_pass(spark, tracer: Tracer, pass_no: int, p: Pass):
    """Spans for one pass (trigger with its durationMs parts as
    children, notify arrivals) and the per-batch job stats from the
    status store, kept on the tracer for the layer report."""
    events, arrivals = p.events, p.arrivals
    shift = time.perf_counter() - time.time()
    store = StatusStore(spark)
    run_ids = {e["run_id"] for e in events}
    jobs: dict[int, object] = {}
    for rid in run_ids:
        jobs.update(store.jobs_by_batch(rid))
    trigger_span = {}
    for e in events:
        trace = f"pass{pass_no}/batch{e['batch']}"
        start = e["start"] + shift
        total = e["ms"].get("triggerExecution", 0) / 1000.0
        tid = tracer.add("trigger", start, start + total, trace=trace)
        trigger_span[e["batch"]] = tid
        t = start
        for part in PARTS:
            d = e["ms"].get(part, 0) / 1000.0
            tracer.add(f"stream.{part}", t, t + d, parent=tid, trace=trace)
            t += d
        e["jobs"] = jobs.get(e["batch"])
    for t_arr, ld in arrivals:
        # the arrival belongs to the last trigger started before it
        b = max((e["batch"] for e in events if e["start"] <= t_arr),
                default=None)
        tracer.add(
            "notify.arrival", t_arr + shift, t_arr + shift,
            parent=trigger_span.get(b), trace=f"pass{pass_no}/batch{b}",
        )
