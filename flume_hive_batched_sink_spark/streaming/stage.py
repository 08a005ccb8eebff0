"""Deterministic micro-batch staging for streaming tests/queries.

The reference drained a live Flume channel; our replayable stand-in
is a file-source directory of parquet chunks consumed with
`maxFilesPerTrigger=1` + `Trigger.AvailableNow` — each chunk becomes
one micro-batch, in lexicographic file order, fully deterministic
(SURVEY.md §5.3: never sleep-based).

Chunks are split on explicit event-time boundaries so watermark
progress (and therefore late-row dropping) is reproducible and
expressible in the DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import SCRATCH


# In-process staging cache: (cache_key → (flat_dir, schema)). The
# staged directory is a read-only replay source (checkpoints and
# sinks live elsewhere), so every consumer of the same chunk content
# at the same sf_dir can share ONE staging — the r7 verdict traced
# the streaming family's ~18× 100×-decade cluster to each operator
# (and each warmup+timed repeat) re-writing the full corpus; with
# the cache a scale run stages once per (content, sf_dir) and the
# decade rows measure operator state work. Process-local by design:
# no cross-run staleness is possible.
_STAGE_CACHE: dict[str, tuple[str, object]] = {}

# Executed micro-batch plans, captured per query/stage for
# scripts/plan_sweep.py: streaming plans are micro-batch-internal
# (building the result DataFrame EXECUTES the replay), so the sweep
# can't explain() the returned frame the way it does batch operators.
# Instead every completed StreamingQuery (run_stream + the manual
# writeStream sites) and every foreachBatch body records the plan
# text it actually ran here, and the sweep diffs this dict around
# each operator invocation. Keys are query/stage names; values are
# BOUNDED lists of recent plan dumps — land_batch captures 2 plans
# per micro-batch on the PRODUCTION landing path, so an unbounded
# buffer would grow driver memory monotonically on a long-running
# stream (r10 code review). The cap must exceed what one sweep
# invocation pushes: the landing replay is 3 micro-batches x 2
# captures (routed, the counts collect; the bookkeeping appends are
# driver-written files, no plan) = 6 under ONE key, so 8 leaves
# headroom — the sweep's around-the-call diff never loses entries.
LAST_PLANS: dict[str, list[str]] = {}
_PLAN_BUF = 8

# Monotonic per-key push counter (total plans EVER pushed, never
# truncated). The sweep's around-the-call diff must not index into
# LAST_PLANS with pre-call list lengths: the buffer keeps only the
# last _PLAN_BUF entries, so if a key already held entries from an
# earlier invocation in the same process, a second invocation pushing
# past the cap would shift indices and v[before:] would silently drop
# the earliest NEW captures (r10 ADVICE). Diff PLAN_PUSH_COUNTS
# instead and take the last (count_now - count_before) entries,
# capped at the buffer size.
PLAN_PUSH_COUNTS: dict[str, int] = {}


def _push_plan(name: str, text: str) -> None:
    buf = LAST_PLANS.setdefault(name, [])
    buf.append(text)
    del buf[:-_PLAN_BUF]
    PLAN_PUSH_COUNTS[name] = PLAN_PUSH_COUNTS.get(name, 0) + 1


def capture_stream_plan(q, name: str) -> None:
    """Record a finished StreamingQuery's last micro-batch plan
    (logical + physical — StreamExecution retains lastExecution after
    AvailableNow drains). Capture failures are swallowed: the sweep
    treats a missing capture as 'no plan observed', never as a crash
    in the operator itself."""
    try:
        _push_plan(name, q._jsq.explainInternal(True))
    except Exception:  # pragma: no cover - py4j edge
        pass


def capture_batch_plan(df, name: str) -> None:
    """Record the physical plan of a DataFrame a foreachBatch body is
    about to execute (write/collect) — the part of a foreachBatch
    pipeline explainInternal can't see."""
    try:
        _push_plan(
            name, df._jdf.queryExecution().executedPlan().toString()
        )
    except Exception:  # pragma: no cover - py4j edge
        pass


def stage_chunks(
    name: str, chunks: list[DataFrame], cache_key: str | None = None
) -> tuple[str, "object"]:
    """Write each chunk as chunk_<i>/part-*.parquet under a fresh
    staging dir; returns (dir glob for readStream, schema). With
    `cache_key` (callers pass "<content-tag>|<sf_dir>"), a repeat
    call in the same process reuses the already-staged directory.

    The on-disk directory is derived from the CACHE KEY, not just
    `name`: two sf_dirs staging the same content tag must land in
    DIFFERENT directories, else the second build's rmtree would pull
    the data out from under the first's still-cached path and a later
    cache hit would silently replay the wrong corpus (the r8
    code-review finding — a 1× measurement reading 100× data)."""
    if cache_key is not None and cache_key in _STAGE_CACHE:
        return _STAGE_CACHE[cache_key]
    if cache_key is not None:
        import hashlib

        name = f"{name}_{hashlib.md5(cache_key.encode()).hexdigest()[:12]}"
    base = os.path.join(SCRATCH, "stream_stage", name)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    schema = chunks[0].schema
    for i, ch in enumerate(chunks):
        ch.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, f"chunk_{i:03d}")
        )
    # flatten: file source wants one dir of files; move part files up.
    # FileStreamSource orders by modification time at millisecond
    # granularity (ties are arbitrary), so stamp strictly increasing
    # mtimes — one second apart per chunk — to pin micro-batch order.
    flat = os.path.join(base, "flat")
    os.makedirs(flat, exist_ok=True)
    import time as _time

    t0 = _time.time() - 3600
    k = 0
    for i in range(len(chunks)):
        src = os.path.join(base, f"chunk_{i:03d}")
        parts = sorted(
            f for f in os.listdir(src) if f.endswith(".parquet")
        )
        for j, p in enumerate(parts):
            dst = os.path.join(flat, f"{i:03d}_{j}.parquet")
            shutil.copy(os.path.join(src, p), dst)
            os.utime(dst, (t0 + k, t0 + k))
            k += 1
    if cache_key is not None:
        _STAGE_CACHE[cache_key] = (flat, schema)
    return flat, schema


def run_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    transform,
    query_name: str,
    output_mode: str = "append",
) -> DataFrame:
    """readStream over the staged chunks (1 file = 1 micro-batch) →
    transform → memory sink, driven to completion with AvailableNow;
    returns the collected result table. Deterministic: file order is
    lexicographic, no wall-clock dependence."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(staged_dir)
    )
    out = transform(src)
    ckpt = os.path.join(SCRATCH, "checkpoints", query_name)
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        out.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    capture_stream_plan(q, query_name)
    return spark.table(query_name)


def events_chunks_by_time(
    spark: SparkSession, sf_dir: str, boundaries: list[str]
) -> list[DataFrame]:
    """Split events on event-time boundaries → in-order chunks
    (monotone watermark, no accidental late rows)."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    chunks = []
    edges = (
        [None] + [F.lit(b).cast("timestamp") for b in boundaries] + [None]
    )
    for i in range(len(edges) - 1):
        c = ev
        if edges[i] is not None:
            c = c.filter(F.col("ts") >= edges[i])
        if edges[i + 1] is not None:
            c = c.filter(F.col("ts") < edges[i + 1])
        chunks.append(c)
    return chunks
