"""B8 — Structured Streaming operators.

Each query replays the `events` table through a file-source stream
(deterministic micro-batches, stage.py) and returns the collected
result — the batch-equivalence test strategy of SURVEY.md §5.3. The
DuckDB oracles encode the *streaming* semantics: append-mode windowed
aggregates emit exactly the windows whose end precedes the final
watermark (global max event time − delay), and engineered late rows
are dropped — so the streaming path itself is oracle-checked, not
just smoke-tested.

Reference parity: tumbling window counts ↔ A14/A15
(TimedUtils.scala:44-137); watermark finalization ↔ A11's
minFinishedTimestamp gate (HiveBatchedWriter.scala:60-63); dedup ↔
A2's at-least-once replay hazard; foreachBatch landing ↔ the whole
sink (A1-A24); observe() counters ↔ A16 (TimedSinkCounter).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..config import SinkConfig
from ..operators.pipeline import sql_logdate
from ..operators.registry import local_frame, query
from .stage import (
    SCRATCH,
    events_chunks_by_time,
    replay_source,
    run_stream,
    stage_chunks,
)

_DELAY = "10 minutes"
_CHUNK_BOUNDS = ["2024-01-11", "2024-01-21"]

# final watermark in SQL: global max event time − 10 min
_SQL_WM = "(SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE FROM events)"
_SQL_BUCKET5 = (
    "make_timestamp(((CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 300)"
    " * 300) * 1000000)"
)


def _staged_events(spark: SparkSession, sf_dir: str):
    """The standard 3-chunk event replay corpus. ALL consumers share
    ONE staged directory per sf_dir (the source dir is read-only for
    every query — checkpoints/sinks are per-query elsewhere), staged
    once per process per sf_dir instead of once per operator per
    invocation."""
    chunks = events_chunks_by_time(spark, sf_dir, _CHUNK_BOUNDS)
    return stage_chunks(
        "events_shared", chunks, cache_key=f"events_shared|{sf_dir}"
    )


@query(
    "stream_tumbling_5min",
    f"""
    SELECT win_start, event_type, n FROM (
      SELECT {_SQL_BUCKET5} AS win_start,
             event_type, COUNT(*) AS n
      FROM events
      GROUP BY 1, 2
    ) t
    WHERE win_start + INTERVAL 5 MINUTE <= {_SQL_WM}
    """,
)
def stream_tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/A15: per-category 5-minute tumbling counts, streaming
    append mode. Emitted set = windows finalized by the final
    watermark — exactly what the oracle states."""
    staged, schema = _staged_events(spark, sf_dir)

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", _DELAY)
            .groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").alias("win_start"), "event_type", "n"
            )
        )

    q = run_stream(spark, staged, schema, xform, "stream_tumbling_5min")
    return spark.table(q.name)


@query(
    "stream_sliding",
    f"""
    SELECT win_start, n FROM (
      SELECT win_start, COUNT(*) AS n FROM (
        -- each event belongs to 2 overlapping 10-min windows: starts
        -- on the 600s grid and the 600s grid shifted by 300s
        SELECT make_timestamp((((CAST(floor(epoch(CAST(ts AS TIMESTAMP)))
                 AS BIGINT) - off.o) // 600) * 600 + off.o) * 1000000) AS win_start
        FROM events, (SELECT unnest([0, 300]) AS o) off
      ) assigned
      GROUP BY win_start
    ) t
    WHERE win_start + INTERVAL 10 MINUTE <= {_SQL_WM}
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5: each event lands in 2
    windows (the oracle assigns both by offset arithmetic)."""
    staged, schema = _staged_events(spark, sf_dir)

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", _DELAY)
            .groupBy(F.window("ts", "10 minutes", "5 minutes"))
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("win_start"), "n")
        )

    q = run_stream(spark, staged, schema, xform, "stream_sliding")
    return spark.table(q.name)


@query(
    "stream_session",
    f"""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n
    FROM numbered
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= {_SQL_WM}
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user. The oracle is the
    gap-islands formulation; emitted sessions are those closed by the
    final watermark."""
    staged, schema = _staged_events(spark, sf_dir)

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", _DELAY)
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n",
            )
        )

    q = run_stream(spark, staged, schema, xform, "stream_session")
    return spark.table(q.name)


@query(
    "stream_watermark_late",
    f"""
    SELECT win_start, n FROM (
      SELECT {_SQL_BUCKET5} AS win_start, COUNT(*) AS n
      FROM events
      WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02'
      GROUP BY 1
    ) t
    WHERE win_start + INTERVAL 5 MINUTE <= {_SQL_WM}
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's finalization gate, adversarially: day-1 rows are
    *replayed out of order* as the third micro-batch, after two weeks
    of data has advanced the watermark and their windows have been
    finalized+evicted — so they are dropped
    (numRowsDroppedByWatermark). The oracle excludes exactly those
    rows and finalizes by the final watermark.

    Note the semantics pinned by this construction: Spark only drops
    a late row once its window has been *evicted* (emitted). A late
    row whose window was never finalized still merges and emits —
    that's why the replay must come at least one batch after the
    watermark passed the windows (verified empirically; a 2-batch
    version of this test emits the late windows)."""
    ev = load_table(spark, sf_dir, "events")
    T = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    b1 = ev.filter((F.col("ts") >= T("2024-01-02")) & (F.col("ts") < T("2024-01-16")))
    b2 = ev.filter((F.col("ts") >= T("2024-01-16")) & (F.col("ts") < T("2024-01-20")))
    b3 = ev.filter(
        (F.col("ts") < T("2024-01-02")) | (F.col("ts") >= T("2024-01-20"))
    )
    staged, schema = stage_chunks(
        "wmlate", [b1, b2, b3], cache_key=f"wmlate|{sf_dir}"
    )

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", _DELAY)
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("win_start"), "n")
        )

    q = run_stream(spark, staged, schema, xform, "stream_watermark_late")
    return spark.table(q.name)


@query(
    "stream_dedup",
    """
    SELECT event_id, user_id, event_type, value FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2's at-least-once replay fixed by keyed dedup: every event is
    delivered twice (duplicated inside each chunk);
    dropDuplicatesWithinWatermark collapses them to exactly-once."""
    chunks = events_chunks_by_time(spark, sf_dir, _CHUNK_BOUNDS)
    doubled = [c.unionAll(c) for c in chunks]
    staged, schema = stage_chunks(
        "dedup", doubled, cache_key=f"dedup|{sf_dir}"
    )

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", _DELAY)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type", "value")
        )

    q = run_stream(spark, staged, schema, xform, "stream_dedup")
    return spark.table(q.name)


@query(
    "stream_foreach_batch_land",
    f"""
    SELECT {sql_logdate('CAST(ts AS TIMESTAMP)', 86400)} AS logdate,
           COUNT(*) AS n_rows
    FROM events
    GROUP BY 1
    """,
)
def stream_foreach_batch_land(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire job as a streaming pipeline: micro-batch
    → parse/route → partitioned parquet append → bookkeeping upsert →
    completeness epilogue (land.py). Verified by reading the landed
    table back and auditing per-partition counts against the raw
    events — the reconciliation the reference's hive_sink_detail
    table + DTE notification supported."""
    from .land import run_landing_stream

    # identical content to the shared event staging — reuse it
    staged, schema = _staged_events(spark, sf_dir)
    cfg = SinkConfig(
        table="events_landed_stream",
        output_path=os.path.join(SCRATCH, "warehouse"),
        round_unit="day",
        round_value=1,
    )
    completed: list[str] = []
    run_landing_stream(
        spark, staged, schema, cfg, on_complete=completed.extend
    )
    back = spark.read.parquet(
        os.path.join(cfg.output_path, cfg.table)
    )
    return back.groupBy(
        F.col(cfg.partition_col).cast("string").alias("logdate")
    ).agg(F.count("*").alias("n_rows"))


@query(
    "stream_observe_counters",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(user_id) AS BIGINT) AS sum_uid,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchase
    FROM events
    """,
)
def stream_observe_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: the reference's JMX counters as `observe()` metrics —
    per-micro-batch observed metrics summed across the run equal the
    batch totals (counters are associative, exactly the property the
    reference exploited with its 5-min maps). A CounterReporter
    listener additionally mirrors the running totals to a JSON report
    file (TimedSinkCounterMBean.getCountersJson parity, counters.py)."""
    from .counters import install, uninstall

    reporter = install(spark)
    staged, schema = _staged_events(spark, sf_dir)

    def xform(src: DataFrame) -> DataFrame:
        return src.observe(
            "counters",
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").alias("sum_uid"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchase"),
        )

    q = run_stream(
        spark, staged, schema, xform, "stream_observe_counters", sink="noop"
    )
    totals = {"n_events": 0, "sum_uid": 0, "n_purchase": 0}
    for prog in q.recentProgress:
        metrics = (prog.observedMetrics or {}).get("counters")
        if metrics:
            for k in totals:
                totals[k] += metrics[k] or 0
    # progress events may still be queued on the listener bus:
    # removing the reporter now would drop them from its report
    try:
        reporter.wait_terminated(q.runId)
    finally:
        uninstall(spark, reporter)
    return local_frame(
        spark,
        [tuple(totals[k] for k in ("n_events", "sum_uid", "n_purchase"))],
        "n_events bigint, sum_uid bigint, n_purchase bigint",
    )


@query(
    "stream_stateful_counter",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via `applyInPandasWithState`
    — the escape hatch for semantics the built-in windowed aggregates
    can't express (the reference's hand-rolled per-key accumulator
    maps, TimedSinkCounter.scala, generalized to arbitrary Python
    state). Per user_id, an Arrow-batched function folds each
    micro-batch into (n_events, sum_value) state and emits the
    running snapshot; the registered result takes the final snapshot
    per user, which the DuckDB oracle checks as a plain groupBy —
    state-fold totals must equal batch totals regardless of how the
    stream was chunked. State accumulates integer cents (values are
    2-decimal), so the fold is exact and order-free — summing raw
    doubles per batch would drift from the oracle at the ULP level
    (pandas pairwise vs sequential addition).

    Scale shape: state lives in the state store partitioned by
    user_id (one shuffle), snapshots are tiny rows; nothing is
    collected until the memory-sink read the test harness does."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    staged, schema = _staged_events(spark, sf_dir)

    def fold(key, pdfs, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [cents / 100.0],
            }
        )

    def xform(src: DataFrame) -> DataFrame:
        return src.groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType="user_id bigint, n_events bigint, "
            "sum_value double",
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    q = run_stream(
        spark, staged, schema, xform, "stream_stateful_counter", "update"
    )
    all_snaps = spark.table(q.name)
    # final snapshot per user = max running count (monotone state)
    return all_snaps.groupBy("user_id").agg(
        F.max_by(F.col("n_events"), F.col("n_events")).alias("n_events"),
        F.max_by(F.col("sum_value"), F.col("n_events")).alias("sum_value"),
    )


@query(
    "stream_static_join",
    f"""
    SELECT win_start, c_mktsegment, n FROM (
      SELECT {_SQL_BUCKET5} AS win_start,
             c.c_mktsegment, COUNT(*) AS n
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
      GROUP BY 1, 2
    ) t
    WHERE win_start + INTERVAL 5 MINUTE <= {_SQL_WM}
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    a static dimension (customer segment) before the windowed count —
    the standard streaming-ETL enrich step (the reference's A22
    per-event serde + routing was its degenerate form: enrichment
    from config, not data). Stream-static joins are STATELESS — the
    dim is re-resolved per micro-batch, so a small dim broadcasts and
    adds no state store; only the post-join windowed agg keeps state.
    At 100 TB/day the dim side stays broadcast-sized (segments,
    domains, tenant configs) while the stream side scales with
    executors. Emitted set = watermark-finalized windows, same
    append-mode contract as stream_tumbling_5min."""
    staged, schema = _staged_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.withWatermark("ts", _DELAY)
            .join(F.broadcast(dim), "user_id")
            .groupBy(F.window("ts", "5 minutes"), "c_mktsegment")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("window.start").alias("win_start"),
                "c_mktsegment",
                "n",
            )
        )

    q = run_stream(spark, staged, schema, xform, "stream_static_join")
    return spark.table(q.name)


@query(
    "stream_stream_join",
    """
    SELECT v.event_id AS view_id, a.event_id AS act_id,
           v.user_id AS user_id
    FROM events v
    JOIN events a
      ON v.user_id = a.user_id
     AND v.event_id % 2 = 0 AND a.event_id % 2 = 1
     AND CAST(a.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
     AND CAST(a.ts AS TIMESTAMP)
         <= CAST(v.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: two live streams (even event_ids
    as "views", odd as "actions") matched on user within a 5-minute
    event-time window — the attribution-join shape (click joins its
    impression). Both sides carry watermarks and the join condition
    bounds event-time distance, so the state store holds only rows
    younger than watermark + interval — WITHOUT the time bound a
    stream-stream join buffers both streams forever, the canonical
    streaming OOM. Inner join emits on match arrival, so with
    in-order replay the result equals the batch interval join (what
    the oracle states). At scale both streams shuffle on user_id once
    and state is partitioned with them."""
    chunks = events_chunks_by_time(spark, sf_dir, _CHUNK_BOUNDS)
    cols = ["event_id", "user_id", "ts"]
    views = [c.filter(F.col("event_id") % 2 == 0).select(cols) for c in chunks]
    acts = [c.filter(F.col("event_id") % 2 == 1).select(cols) for c in chunks]
    staged_v, schema = stage_chunks(
        "ssj_views", views, cache_key=f"ssj_views|{sf_dir}"
    )
    staged_a, _ = stage_chunks(
        "ssj_acts", acts, cache_key=f"ssj_acts|{sf_dir}"
    )

    def xform(src: DataFrame) -> DataFrame:
        v = src.withWatermark("ts", _DELAY).alias("v")
        a = (
            replay_source(spark, staged_a, schema)
            .withWatermark("ts", _DELAY)
            .alias("a")
        )
        return v.join(
            a,
            F.expr(
                "v.user_id = a.user_id AND a.ts >= v.ts "
                "AND a.ts <= v.ts + interval 5 minutes"
            ),
        ).select(
            F.col("v.event_id").alias("view_id"),
            F.col("a.event_id").alias("act_id"),
            F.col("v.user_id").alias("user_id"),
        )

    q = run_stream(spark, staged_v, schema, xform, "stream_stream_join")
    return spark.table(q.name)


@query(
    "stream_restart_recovery",
    """
    SELECT event_type, COUNT(*) AS n_rows
    FROM events
    GROUP BY event_type
    """,
)
def stream_restart_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-restart exactly-once: run the landing stream until
    it drains the currently-visible input and TERMINATES, reveal the
    rest of the input, then RESTART the query from the same
    checkpoint. The read-back per-type counts must equal the batch
    counts over all events — which is only true if the restarted
    query neither re-lands the already-committed micro-batch
    (duplicate) nor skips the new files (loss). This is the
    reference's at-least-once replay hazard (rollback re-queues
    events, HiveBatchedSink.scala:302-357) resolved the Spark way:
    source offsets + sink commit log in the checkpoint make the
    restart idempotent, so the ORACLE CHECK ITSELF is the
    exactly-once proof. Deterministic: phase boundaries are file
    visibility, never wall-clock."""
    import shutil as _sh

    staged, schema = _staged_events(spark, sf_dir)
    files = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    phased = os.path.join(SCRATCH, "stream_stage", "restart_phased")
    out_dir = os.path.join(SCRATCH, "restart_landed")
    for d in (phased, out_dir):
        _sh.rmtree(d, ignore_errors=True)
    os.makedirs(phased, exist_ok=True)
    name = "stream_restart_recovery"
    # phase 1: only the first staged file is visible; the query lands
    # it, commits, and terminates (AvailableNow drains what exists)
    _sh.copy2(os.path.join(staged, files[0]), os.path.join(phased, files[0]))
    run_stream(spark, phased, schema, None, name, sink=out_dir)
    # phase 2: reveal the remaining files and restart from the SAME
    # checkpoint — committed offsets skip phase 1's file
    for f in files[1:]:
        _sh.copy2(os.path.join(staged, f), os.path.join(phased, f))
    run_stream(spark, phased, schema, None, name, sink=out_dir, fresh=False)

    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(F.count("*").alias("n_rows"))


# The model/score boundary IS the first staged chunk boundary — tied
# to _CHUNK_BOUNDS so retuning the shared chunking keeps the
# batch-model/stream-score split aligned with a micro-batch edge.
_ALERT_SPLIT = _CHUNK_BOUNDS[0]


@query(
    "stream_anomaly_alert",
    f"""
    WITH hist AS (
      SELECT event_id, event_type, value FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{_ALERT_SPLIT}'
    ),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hist
    ),
    med AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS med
      FROM ranked WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    ),
    hdev AS (
      SELECT h.event_id, h.event_type,
             abs(h.value - m.med) AS d
      FROM hist h JOIN med m ON h.event_type = m.event_type
    ),
    dranked AS (
      SELECT event_type, d,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY d, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM hdev
    ),
    mad AS (
      SELECT event_type,
             CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS mad
      FROM dranked WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
      GROUP BY event_type
    )
    SELECT l.event_id, l.event_type, l.value, m.med, a.mad,
           (l.value - m.med) / NULLIF(a.mad, 0) AS score
    FROM events l
    JOIN med m ON l.event_type = m.event_type
    JOIN mad a ON l.event_type = a.event_type
    WHERE CAST(l.ts AS TIMESTAMP) >= TIMESTAMP '{_ALERT_SPLIT}'
      AND abs(l.value - m.med) > 6 * a.mad
    """,
)
def stream_anomaly_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly alerting: the live event stream is scored
    row-locally against a BATCH-built robust model (per-type
    median/MAD over the history before 2024-01-11, the first staged
    chunk boundary) and rows beyond 6×MAD are emitted as alerts —
    the batch-model / stream-score split every monitoring pipeline
    runs (the reference's counters, TimedUtils.scala:44-68, are the
    degenerate count-only form of this screen).

    The model is `operators.analytics.rank_median`/`mad_model` — the
    SAME audited code as the batch `ts_anomaly_mad`, not a copy.
    Scale shape: the screen is STATELESS — a broadcast join against
    a per-type 5-row model plus a row-local filter, so there is no
    state store at all and alert latency is one micro-batch; the
    model refresh is a batch job on its own cadence. The oracle
    re-derives the identical model over the history split and scores
    the post-split rows."""
    from ..operators.analytics import mad_model

    staged, schema = _staged_events(spark, sf_dir)
    hist = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts") < F.lit(_ALERT_SPLIT).cast("timestamp"))
        .select("event_id", "event_type", "value")
    )
    med, _dev, mad = mad_model(hist)
    model = med.join(mad, "event_type")

    def xform(src: DataFrame) -> DataFrame:
        return (
            src.filter(
                F.col("ts") >= F.lit(_ALERT_SPLIT).cast("timestamp")
            )
            .join(F.broadcast(model), "event_type")
            .filter(
                F.abs(F.col("value") - F.col("med")) > 6 * F.col("mad")
            )
            .select(
                "event_id",
                "event_type",
                "value",
                "med",
                "mad",
                # mad = 0 guard mirrors the oracle's NULLIF — pins the
                # score to NULL on both engines regardless of the
                # DuckDB double-div-by-zero default (Infinity >=0.10).
                F.when(
                    F.col("mad") != 0,
                    (F.col("value") - F.col("med")) / F.col("mad"),
                ).alias("score"),
            )
        )

    q = run_stream(spark, staged, schema, xform, "stream_anomaly_alert")
    return spark.table(q.name)


def topk_sort_key():
    """Ascending sort key equal to the oracle's `value DESC,
    event_id` under DuckDB's defaults (NaN ranks FIRST — greater
    than every number — NULLs rank LAST, and -0.0 TIES +0.0 with the
    tie broken by event_id): grp 0=NaN, 1=finite ordered by -value,
    2=NULL. A bare -value key would put a NULL value first (a null
    struct field sorts smallest), a NaN last, and split the signed
    zeros by sign (Spark's Double ordering has -0.0 < 0.0) — all
    three divergent. `+ 0.0` collapses -0.0 into +0.0 in the sort
    position only; the verbatim value rides along as its own field
    for emission (topk_value_back), preserving the original sign the
    way both engines' output does. Shared with the batch edge test
    (test_windowed_topk_nonfinite_order)."""
    return F.struct(
        F.when(F.col("value").isNull(), F.lit(2))
        .when(F.isnan("value"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("tinyint")
        .alias("grp"),
        F.when(F.col("value").isNull() | F.isnan("value"), F.lit(0.0))
        .otherwise(-F.col("value") + F.lit(0.0))
        .alias("sortv"),
        F.col("event_id").alias("event_id"),
        F.col("value").alias("value"),
    )


def topk_value_back(r):
    """The original value carried through a topk_sort_key struct."""
    return r.value


@query(
    "stream_windowed_topk",
    f"""
    SELECT win_start, rank, event_id, value FROM (
      SELECT {_SQL_BUCKET5} AS win_start, event_id, value,
             CAST(row_number() OVER (
               PARTITION BY {_SQL_BUCKET5}
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
      FROM events
    ) t
    WHERE rank <= 3
      AND win_start + INTERVAL 5 MINUTE <= {_SQL_WM}
    """,
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window top-k: the 3 highest-value events of
    every finalized 5-minute window (ties to the lower event_id) —
    the leaderboard/worst-offenders feed every monitoring stream
    publishes. Ranking inside a streaming aggregate is not directly
    expressible (no windows over windowed aggs in append mode), so
    the aggregate collects the window's (value, event_id) pairs and
    a STATELESS post-aggregate projection sorts, slices and explodes
    the top 3 — emission still gated by the watermark, same contract
    as stream_tumbling_5min.

    Scale note: state per window is its event list; that is the
    honest cost of exact top-k on a stream. The bounded-state
    production variant keeps a k-element partial top-k per
    (window, shard) in applyInPandasWithState (the
    stream_stateful_counter machinery) and merges shards in the
    projection — plan shape unchanged, state O(k·shards)."""
    staged, schema = _staged_events(spark, sf_dir)

    def xform(src: DataFrame) -> DataFrame:
        agged = (
            src.withWatermark("ts", _DELAY)
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.collect_list(topk_sort_key()).alias("rows"))
        )
        top = F.slice(F.array_sort("rows"), 1, 3)
        return agged.select(
            F.col("window.start").alias("win_start"),
            F.posexplode(top).alias("pos", "r"),
        ).select(
            "win_start",
            (F.col("pos") + 1).cast("bigint").alias("rank"),
            F.col("r.event_id").alias("event_id"),
            topk_value_back(F.col("r")).alias("value"),
        )

    q = run_stream(spark, staged, schema, xform, "stream_windowed_topk")
    return spark.table(q.name)


_TOPK_K = 3


def merge_topk(tops, rows, k):
    """Merge new rows into a bounded top-k partial: each element is
    (grp, sortv, event_id, value-or-None) in topk_sort_key order.
    Associative and chunking-invariant (property-tested), which is
    what lets the stateful fold keep only k elements per window."""
    tops = list(tops)
    tops.extend(rows)
    tops.sort(key=lambda t: (t[0], t[1], t[2]))
    return tops[:k]


@query(
    "stream_windowed_topk_state",
    f"""
    SELECT win_start, rank, event_id, value FROM (
      SELECT {_SQL_BUCKET5} AS win_start, event_id, value,
             CAST(row_number() OVER (
               PARTITION BY {_SQL_BUCKET5}
               ORDER BY value DESC, event_id) AS BIGINT) AS rank
      FROM events
    ) t
    WHERE rank <= {_TOPK_K}
      AND win_start + INTERVAL 5 MINUTE <= {_SQL_WM}
    """,
)
def stream_windowed_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming top-k — the production variant
    `stream_windowed_topk`'s docstring promises. Same result contract
    (top 3 per finalized 5-minute window, value DESC / event_id
    tiebreak, identical oracle), but the state per window key is a
    k-element partial top-k held in `applyInPandasWithState`
    (stream_stateful_counter machinery) instead of the window's full
    (value, event_id) list: each micro-batch merges its rows into the
    stored top-3 and re-emits the snapshot, so state is O(k) per live
    window — 13 scalars here — no matter how many events the window
    receives. The collect_list variant's state grows with window
    volume; this one is what survives a hot window at 100 TB/day.

    Non-finite ordering is pre-encoded JVM-side with the SAME
    topk_sort_key 3-group convention (NaN greatest, NULL last, ±0.0
    tied) before rows reach Python — a pandas float column cannot
    distinguish NULL from NaN, so the grp tag travels with the row
    and NULL values are re-emitted as NULL from the tag, verbatim
    value otherwise. Finalization mirrors the oracle: windows whose
    end precedes the final watermark (max event time − 10 min), the
    same gate run_stream's append mode applies."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    staged, schema = _staged_events(spark, sf_dir)
    k = _TOPK_K
    out_fields = ", ".join(
        f"g{j} tinyint, i{j} bigint, v{j} double" for j in range(1, k + 1)
    )

    def fold(key, pdfs, state):
        if state.exists:
            st = state.get
            n = st[0]
            # stored slots: (grp, sortv, event_id, value) per rank
            tops = [
                (st[1 + 4 * j], st[2 + 4 * j], st[3 + 4 * j], st[4 + 4 * j])
                for j in range(k)
                if st[1 + 4 * j] is not None
            ]
        else:
            n, tops = 0, []
        for pdf in pdfs:
            n += len(pdf)
            # grp 2 tags a NULL value (pandas floats conflate NULL
            # with NaN — the tag is authoritative)
            tops = merge_topk(
                tops,
                (
                    (int(g), float(s), int(i), None if g == 2 else float(v))
                    for g, s, i, v in zip(
                        pdf["grp"], pdf["sortv"], pdf["event_id"], pdf["value"]
                    )
                ),
                k,
            )
        flat = [n]
        for j in range(k):
            flat.extend(tops[j] if j < len(tops) else (None,) * 4)
        state.update(tuple(flat))
        row = {"win_start": [key[0]], "n_seen": [n]}
        for j in range(k):
            g, _s, i, v = tops[j] if j < len(tops) else (None,) * 4
            row[f"g{j + 1}"] = pd.Series([g], dtype="object")
            row[f"i{j + 1}"] = pd.Series([i], dtype="object")
            row[f"v{j + 1}"] = pd.Series([v], dtype="object")
        yield pd.DataFrame(row)

    def xform(src: DataFrame) -> DataFrame:
        encoded = src.select(
            F.expr("timestamp_seconds((cast(ts as long) div 300) * 300)")
            .alias("win_start"),
            topk_sort_key().alias("k"),
        ).select("win_start", "k.grp", "k.sortv", "k.event_id", "k.value")
        return encoded.groupBy("win_start").applyInPandasWithState(
            fold,
            outputStructType="win_start timestamp, n_seen bigint, "
            + out_fields,
            stateStructType="n bigint, "
            + ", ".join(
                f"sg{j} tinyint, ss{j} double, si{j} bigint, sv{j} double"
                for j in range(1, k + 1)
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    q = run_stream(
        spark, staged, schema, xform, "stream_windowed_topk_state", "update"
    )
    snaps = spark.table(q.name)
    # final snapshot per window = the one with the largest n_seen
    # (monotone); then the oracle's watermark finalization gate.
    final = snaps.groupBy("win_start").agg(
        F.max_by(
            F.struct(*[c for c in snaps.columns if c != "win_start"]),
            F.col("n_seen"),
        ).alias("s")
    ).select("win_start", "s.*")
    wm = (
        load_table(spark, sf_dir, "events")
        .agg(
            (
                F.max(F.col("ts").cast("timestamp"))
                - F.expr("INTERVAL 10 MINUTE")
            ).alias("wm")
        )
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("rank"),
                F.col(f"i{j}").alias("event_id"),
                F.col(f"g{j}").alias("g"),
                F.col(f"v{j}").alias("v"),
            )
            for j in range(1, k + 1)
        ]
    )
    return (
        final.crossJoin(F.broadcast(wm))
        .filter(F.col("win_start") + F.expr("INTERVAL 5 MINUTE") <= F.col("wm"))
        .select("win_start", F.explode(entries).alias("e"))
        .filter(F.col("e.g").isNotNull())
        .select(
            "win_start",
            F.col("e.rank").alias("rank"),
            F.col("e.event_id").alias("event_id"),
            # reconstruct the value from the grp tag, not the carried
            # double: the pandas/Arrow hop nullifies NaN (object
            # column → Arrow null), so grp 0 re-emits a literal NaN
            # and grp 2 a true NULL — exactly what the JVM-side
            # collect_list sister op and the oracle emit
            F.when(F.col("e.g") == 0, F.lit(float("nan")))
            .when(F.col("e.g") != 2, F.col("e.v"))
            .alias("value"),
        )
    )


from ..operators.curation import (  # noqa: E402  (bloom shared pieces)
    _BLOOM_CHUNKS_SQL,
    _BLOOM_DELTA,
    _BLOOM_DELTA_SQL,
    _BLOOM_BPK,
    _BLOOM_K,
    _BLOOM_WORD,
    _bloom_h40,
    _bloom_h40_sql,
    bloom_chunk_frame,
    bloom_static_sides,
)


@query(
    "stream_dedup_bloom",
    # Batch-semantics twin: the stream-static probe is stateless per
    # chunk, so the streaming output equals the batch per-chunk
    # verdict table restricted to the delta slice — the same CTEs as
    # ns_dedup_bloom minus the per-doc rollup.
    f"""
    WITH {_BLOOM_CHUNKS_SQL},
    basek AS (
      SELECT DISTINCT ck FROM chunks
      WHERE source NOT IN ({_BLOOM_DELTA_SQL})
    ),
    geom AS (
      SELECT ((COUNT(*) * {_BLOOM_BPK} + {_BLOOM_WORD - 1})
              // {_BLOOM_WORD}) * {_BLOOM_WORD} AS m_bits
      FROM basek
    ),
    setbits AS (
      SELECT p.pos // {_BLOOM_WORD} AS word,
             bit_or(1::BIGINT << (p.pos % {_BLOOM_WORD})::INT) AS wv
      FROM basek b CROSS JOIN geom g,
           LATERAL (SELECT unnest([
             {", ".join(
                 _bloom_h40_sql("b.ck", j) + " % g.m_bits"
                 for j in range(_BLOOM_K))}
           ]) AS pos) p
      GROUP BY 1
    ),
    probe AS (
      SELECT c.doc_id, c.chunk_id, c.ck,
             p.pos // {_BLOOM_WORD} AS word,
             (p.pos % {_BLOOM_WORD})::INT AS bit
      FROM chunks c CROSS JOIN geom g,
           LATERAL (SELECT unnest([
             {", ".join(
                 _bloom_h40_sql("c.ck", j) + " % g.m_bits"
                 for j in range(_BLOOM_K))}
           ]) AS pos) p
      WHERE c.source IN ({_BLOOM_DELTA_SQL})
    ),
    perchunk AS (
      SELECT p.doc_id, p.chunk_id, p.ck,
             MIN(CASE WHEN s.wv IS NOT NULL
                       AND ((s.wv >> p.bit) & 1) = 1
                      THEN 1 ELSE 0 END) AS maybe
      FROM probe p LEFT JOIN setbits s ON p.word = s.word
      GROUP BY 1, 2, 3
    )
    SELECT pc.doc_id, pc.chunk_id,
           pc.maybe AS maybe_seen,
           CASE WHEN b.ck IS NULL THEN 0 ELSE 1 END AS seen_exact,
           pc.maybe - (CASE WHEN b.ck IS NULL THEN 0 ELSE 1 END)
             AS false_pos
    FROM perchunk pc LEFT JOIN basek b ON pc.ck = b.ck
    """,
)
def stream_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup as a LIVE stream: the delta document batch
    arrives as micro-batches and every 16-token chunk probes the
    batch-built bloom filter via stream-static broadcast joins —
    per-chunk verdicts (bloom maybe / exact seen / false positive)
    with NO stream-side aggregation, state store, or watermark: the
    probe is row-local, so verdict latency is one micro-batch and
    state is zero regardless of stream length. This is the
    production shape of ns_dedup_bloom (whose batch per-chunk output
    it must equal — the oracle is the same SQL minus the per-doc
    rollup): filter built nightly from the corpus index, new crawl
    probed as it lands. The k position lookups are k scalar
    broadcast joins (an explode→re-aggregate on the stream would
    force a state store for nothing).

    Scale: the word table is ~6 bits/base-key (broadcastable at
    corpus/10^5 size); the exact-membership audit join against the
    full base key set exists for the false-positive accounting and
    is what production drops first (see ns_dedup_bloom's docstring
    split)."""
    m_bits, words, basek = bloom_static_sides(spark, sf_dir)
    delta = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(*_BLOOM_DELTA)
    )
    parts = [delta.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    staged, schema = stage_chunks(
        "docs_delta", parts, cache_key=f"docs_delta|{sf_dir}"
    )
    seen_keys = basek.withColumn("seen1", F.lit(1))

    def xform(src: DataFrame) -> DataFrame:
        probe = bloom_chunk_frame(src)
        hit = None
        for j in range(_BLOOM_K):
            wj = words.select(
                F.col("word").alias(f"w{j}"), F.col("wv").alias(f"wv{j}")
            )
            probe = (
                probe.withColumn(
                    f"pos{j}", _bloom_h40(F.col("ck"), j) % F.lit(m_bits)
                )
                .withColumn(f"w{j}", F.expr(f"pos{j} div {_BLOOM_WORD}"))
                .withColumn(
                    f"b{j}", (F.col(f"pos{j}") % _BLOOM_WORD).cast("int")
                )
                .join(F.broadcast(wj), [f"w{j}"], "left")
            )
            hj = F.col(f"wv{j}").isNotNull() & (
                F.expr(f"shiftright(wv{j}, b{j}) & 1") == 1
            )
            hit = hj if hit is None else (hit & hj)
        return (
            probe.withColumn("maybe_seen", F.when(hit, 1).otherwise(0))
            .join(F.broadcast(seen_keys), ["ck"], "left")
            .select(
                "doc_id",
                "chunk_id",
                "maybe_seen",
                F.coalesce("seen1", F.lit(0)).alias("seen_exact"),
                (
                    F.col("maybe_seen") - F.coalesce("seen1", F.lit(0))
                ).alias("false_pos"),
            )
        )

    q = run_stream(spark, staged, schema, xform, "stream_dedup_bloom")
    return spark.table(q.name)


# ---- streaming curation gate ----

from ..operators.textstats import (  # noqa: E402  (shared screens)
    _CLS_DUCK as _GATE_CLS_DUCK,
    _CLS_SPARK as _GATE_CLS_SPARK,
    _NOISE_TAU as _GATE_TAU,
)
from ..operators.curation import (  # noqa: E402
    _VERDICT_MIN_CHARS as _GATE_MIN_CHARS,
)


@query(
    "stream_quality_gate",
    f"""
    WITH cs AS (
      SELECT doc_id, n_chars, {_GATE_CLS_DUCK} AS cls
      FROM documents
    ),
    scored AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             len([x FOR x IN range(1, length(cls))
                  IF cls[x] != cls[x + 1]])
               / CAST(greatest(length(cls) - 1, 1) AS DOUBLE)
               AS transition_ratio
      FROM cs
    )
    SELECT doc_id, n_chars, transition_ratio
    FROM scored
    WHERE transition_ratio <= CAST({_GATE_TAU!r} AS DOUBLE)
      AND n_chars >= {_GATE_MIN_CHARS}
    """,
)
def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation gate: the verdict's ROW-LOCAL screens
    (class-transition noise ≤ τ, minimum length) applied at ingest
    time — the filter a production pipeline runs INSIDE the landing
    stream so garbage never reaches storage, rather than as a batch
    pass afterwards. Documents arrive in three micro-batches; kept
    rows flow through with their score. Stateless (a pure
    filter+projection: no watermark, no state store — the cheapest
    possible streaming operator class), sharing the EXACT screen
    expressions with ns_ocr_noise / ns_curation_verdict so batch and
    streaming gates cannot drift.

    Oracle: the batch equivalent of the same filter — stateless
    transforms commute with micro-batching, so the streamed union
    equals the batch result exactly.

    Scale: per-batch work is row-local regexp + one linear HOF (zero
    shuffle, zero state); throughput is scan-bound at any rate."""
    d = load_table(spark, sf_dir, "documents")
    chunks = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    staged, schema = stage_chunks(
        "qgate", chunks, cache_key=f"qgate|{sf_dir}"
    )

    def xform(src: DataFrame) -> DataFrame:
        cs = src.select(
            "doc_id",
            "n_chars",
            F.expr(_GATE_CLS_SPARK).alias("cls"),
        )
        # length(cls) < 2 guard: Spark's sequence(1, 0) is the
        # DESCENDING [1, 0] — unguarded, a 1-char doc would count a
        # phantom transition the batch oracle's range() never sees.
        trans = F.expr(
            "if(length(cls) < 2, 0,"
            " size(filter(sequence(1, length(cls) - 1),"
            " x -> substring(cls, x, 1) != substring(cls, x + 1, 1))))"
        )
        ratio = trans / F.greatest(
            F.length("cls") - 1, F.lit(1)
        ).cast("double")
        return cs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            ratio.alias("transition_ratio"),
        ).filter(
            (F.col("transition_ratio") <= F.lit(_GATE_TAU))
            & (F.col("n_chars") >= _GATE_MIN_CHARS)
        )

    q = run_stream(spark, staged, schema, xform, "stream_quality_gate")
    return spark.table(q.name)


# ---- streaming ANN serving over the prebuilt IVFPQ index ----

_ANN_SERVE_PROBES = 15  # 3 micro-batches x 5 probes
_ANN_SERVE_PRED = f"vec_id < {_ANN_SERVE_PROBES}"


def _ann_serve_sql() -> str:
    from ..operators.clustering import _ivfpq_sql

    return _ivfpq_sql(probe_pred=_ANN_SERVE_PRED)


@query("stream_ann_serve", _ann_serve_sql())
def stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online ANN serving: probe vectors arrive as micro-batches and
    are answered against the PREBUILT IVFPQ index — the production
    read path ns_ann_index_serve registers, driven from a stream.
    The index (codebook + cell-partitioned codes) is built ONCE
    before the stream starts and materialized as parquet partitioned
    by cell_id (the on-disk inverted lists); each micro-batch
    collects its bounded probe set (≤5/batch — trigger-bounded in
    production), derives probe cells + ADC tables driver-side, and
    scores ONLY the probed partitions through the SAME ivfpq_topk
    code the batch operator runs.

    Oracle: the batch IVFPQ query over the union probe set —
    stateless per-batch scoring against a static index commutes with
    micro-batching, so the streamed union equals the batch result
    exactly (the stream_quality_gate argument, applied to a serving
    join instead of a filter).

    Scale: per-batch work is |probed cells|-bounded (partition-pruned
    index read + bounded driver state); the index build amortizes
    across every batch served — the stream NEVER re-touches the
    corpus vectors. State-free (no watermark, no store): the index
    is static within a serving generation; an index refresh is a new
    directory + query restart (blue/green), not stream state."""
    import shutil

    from ..operators.clustering import (
        _pq_train,
        ivfpq_build_index,
        ivfpq_topk,
    )
    from ..operators.registry import tbl
    from ..operators.similarity import ivf_centroids

    from .. import perf

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    cent = ivf_centroids(em)
    # build phase (codebook train + index materialization) timed
    # separately from per-batch serving so the bench artifact can
    # report {build_s, query_s} instead of one conflated number
    # (r12 verdict #4: the 8 s row overstated serving cost ~40×)
    with perf.timed("stream_ann_serve.build"):
        cb = _pq_train(em)
        idx_path = os.path.join(SCRATCH, "ann_serve_idx")
        # cluster-by-cell before the write (see ivfpq_persisted_index
        # — guide §6): one skinny-row shuffle ⇒ 1 file per inverted
        # list (measured 4.1 → 1.6 s build write, 1013 → 40 files)
        ivfpq_build_index(em, cent, cb).repartition(
            "cell_id"
        ).write.mode("overwrite").partitionBy("cell_id").parquet(idx_path)
        enc = spark.read.parquet(idx_path)

    probes = em.filter(F.expr(_ANN_SERVE_PRED)).select("vec_id", "embedding")
    chunks = [probes.filter(F.col("vec_id") % 3 == i) for i in range(3)]
    staged, schema = stage_chunks(
        "annserve", chunks, cache_key=f"annserve|{sf_dir}"
    )
    out_path = os.path.join(SCRATCH, "ann_serve_out")
    shutil.rmtree(out_path, ignore_errors=True)
    # centroid rows collected ONCE per serving generation; the probe
    # vectors arrive IN the micro-batch — so serving never re-scans
    # the corpus (ivfpq_topk's probe_rows/cents fast path)
    cents = cent.orderBy("cent_id").collect()

    def serve(batch_df: DataFrame, _bid: int) -> None:
        with perf.timed("stream_ann_serve.serve"):
            rows = batch_df.select("vec_id", "embedding").collect()
            if not rows:
                return
            res = ivfpq_topk(
                em,
                cent,
                probe_ids=[int(r.vec_id) for r in rows],
                cb=cb,
                enc=enc,
                probe_rows=rows,
                cents=cents,
            )
            res.write.mode("append").parquet(out_path)

    run_stream(spark, staged, schema, None, "ann_serve", sink=serve)
    return spark.read.parquet(out_path).select(
        "probe_id", "neighbor_id", "adc_d2", "rank"
    )


# ---- streaming CDC apply (upsert + delete tombstones) ----

# Deterministic CDC derivation from `orders`: key = o_custkey (many
# changes per key), seq = o_orderkey (globally unique, monotone),
# op by seq mod 5 — 'D' tombstones every 5th change, 'I'/'U' split
# for realism (apply-wise both upsert).
_CDC_OP = (
    "CASE WHEN o_orderkey % 5 = 0 THEN 'D' "
    "WHEN o_orderkey % 5 IN (1, 2) THEN 'I' ELSE 'U' END"
)


@query(
    "stream_cdc_apply",
    f"""
    WITH cdc AS (
      SELECT o_custkey AS custkey, o_orderkey AS seq,
             o_totalprice AS val, {_CDC_OP} AS op
      FROM orders
    ),
    last AS (
      SELECT custkey, seq, val, op,
             row_number() OVER (PARTITION BY custkey
                                ORDER BY seq DESC) AS rn
      FROM cdc
    )
    SELECT custkey, CAST(seq AS BIGINT) AS last_seq, val AS last_val
    FROM last WHERE rn = 1 AND op != 'D'
    """,
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: insert/update/delete change events arrive
    in micro-batches and are MERGED into a keyed state table per
    batch — the standard lakehouse change-data-capture sink (what a
    MERGE INTO target does), with DELETE TOMBSTONES kept in state so
    a late lower-seq change for a deleted key cannot resurrect it.
    Per batch: reduce the batch to its per-key max-seq winner, then
    last-write-wins-merge (by seq) against the previous state
    GENERATION and write the next generation (blue/green state dirs —
    the ann_serve index-refresh pattern applied to keyed state). The
    final table filters tombstones.

    Oracle: the batch equivalent — per key, the max-seq change wins
    and 'D' winners are absent. Seq-based merge commutes with ANY
    batch partitioning of the change stream (out-of-order tolerance
    is the point of sequence numbers), so the streamed generations
    converge to the batch answer exactly.

    Scale: per-batch work is one batch-local winner reduction + one
    seq-keyed merge join against state; state stays |live keys| +
    |tombstones| rows regardless of stream length (a production
    compaction ages tombstones out past the max reorder window);
    generations are partition-friendly parquet, so the merge join
    co-locates on custkey at any scale."""
    import shutil

    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    cdc = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("seq"),
        F.col("o_totalprice").alias("val"),
        F.expr(_CDC_OP).alias("op"),
    )
    chunks = [cdc.filter(F.col("seq") % 3 == i) for i in range(3)]
    staged, schema = stage_chunks(
        "cdcapply", chunks, cache_key=f"cdcapply|{sf_dir}"
    )
    gen_base = os.path.join(SCRATCH, "cdc_state")
    shutil.rmtree(gen_base, ignore_errors=True)
    os.makedirs(gen_base, exist_ok=True)
    last_gen: list[str] = []

    def apply_batch(batch_df: DataFrame, bid: int) -> None:
        w = W.partitionBy("custkey").orderBy(F.desc("seq"))
        winners = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if last_gen:
            prev = spark.read.parquet(last_gen[-1])
            merged = (
                prev.unionByName(winners)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        else:
            merged = winners
        gen = os.path.join(gen_base, f"gen_{bid:03d}")
        merged.write.mode("overwrite").parquet(gen)
        last_gen.append(gen)

    run_stream(spark, staged, schema, None, "cdc_apply", sink=apply_batch)
    final = spark.read.parquet(last_gen[-1])
    return final.filter(F.col("op") != "D").select(
        "custkey",
        F.col("seq").cast("bigint").alias("last_seq"),
        F.col("val").alias("last_val"),
    )
