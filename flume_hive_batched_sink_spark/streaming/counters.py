"""A16 — counter accounting with a JSON report artifact.

The reference kept per-sink counters in a JMX MBean whose
`getCountersJson` exposed the 5-minute-bucketed counts as a JSON
string (TimedSinkCounterMBean.scala:20-24, TimedSinkCounter.scala).
The Spark-native equivalents:

- per-batch metrics: `df.observe(...)` aggregates, delivered through
  `StreamingQueryProgress.observedMetrics` (exactly-once per
  micro-batch, unlike sampling a live MBean);
- the JSON artifact: a `StreamingQueryListener` that accumulates
  observed metrics + input-row counts per query and atomically
  rewrites a JSON report on every progress event.

The listener is passive bookkeeping on the driver — it never touches
the query plan, so it costs nothing at scale.
"""

from __future__ import annotations

import json
import os
import threading
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from ..scratch import SCRATCH


class CounterReporter(StreamingQueryListener):
    """Accumulates observe() metrics and input-row counts per query
    name and mirrors them to a JSON file after each micro-batch."""

    def __init__(self, report_path: str | None = None) -> None:
        self.report_path = report_path or os.path.join(
            SCRATCH, "counters", "sink_counters.json"
        )
        self.totals: dict[str, dict[str, Any]] = {}
        # run ids of the queries whose termination this listener saw
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    # -- listener callbacks -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        name = p.name or str(p.id)  # unnamed queries key by UUID string
        q = self.totals.setdefault(
            name, {"batches": 0, "input_rows": 0, "observed": {}}
        )
        q["batches"] += 1
        q["input_rows"] += int(p.numInputRows or 0)
        for metrics in (p.observedMetrics or {}).values():
            for k, v in metrics.asDict().items():
                if v is not None:
                    q["observed"][k] = q["observed"].get(k, 0) + v
        self._flush()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        self._flush()
        with self._cv:
            self._terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_terminated(self, run_id) -> None:
        """Block until this listener has seen the termination of the
        query run `run_id` (a StreamingQuery's `runId`). The listener
        bus delivers a query's events in order, so by then every
        progress event of that run has reached the totals — a query's
        awaitTermination returns while they may still be queued.
        Raises TimeoutError after 60 s rather than leave an incomplete
        report unflagged."""
        with self._cv:
            if not self._cv.wait_for(
                lambda: str(run_id) in self._terminated, 60.0
            ):
                raise TimeoutError(
                    f"query run {run_id}: no termination event within "
                    "60 s; the counter report may be incomplete"
                )

    # -- report -------------------------------------------------------------
    def counters_json(self) -> str:
        """The MBean's getCountersJson equivalent."""
        return json.dumps(self.totals, sort_keys=True, default=str)

    def _flush(self) -> None:
        os.makedirs(os.path.dirname(self.report_path), exist_ok=True)
        tmp = f"{self.report_path}.tmp"
        with open(tmp, "w") as f:
            f.write(self.counters_json())
        os.replace(tmp, self.report_path)  # atomic: readers never see partials


def install(spark: SparkSession, report_path: str | None = None) -> CounterReporter:
    rep = CounterReporter(report_path)
    spark.streams.addListener(rep)
    return rep


def uninstall(spark: SparkSession, rep: CounterReporter) -> None:
    spark.streams.removeListener(rep)


# -- live introspection endpoint (A16's MBean role) -----------------------


def serve_counters(rep: CounterReporter, port: int = 0):
    """Expose the reporter LIVE over HTTP — the in-process MBean role
    (TimedSinkCounterMBean.scala:20-24: an operator attaches jconsole
    /curl mid-run and reads getCountersJson without waiting for the
    batch to finish). GET /counters returns counters_json() computed
    AT REQUEST TIME from the reporter's in-memory totals, so a poll
    during a long run sees every completed micro-batch so far — the
    file artifact (report_path) stays the durable twin.

    Returns (server, port); port=0 picks a free one. Daemon-threaded
    and driver-local: counters are driver state (the listener runs
    there), so there is nothing to distribute. Call
    `server.shutdown()` when done."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            if self.path.rstrip("/") not in ("", "/counters"):
                self.send_response(404)
                self.end_headers()
                return
            body = rep.counters_json().encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet: one line per poll is noise
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_port
