"""Deterministic micro-batch staging, and the package's one stream
runner.

The reference drained a live Flume channel; our replayable stand-in
is a file-source directory of parquet chunks consumed with
`maxFilesPerTrigger=1` + `Trigger.AvailableNow` — each chunk becomes
one micro-batch, in file order, fully deterministic (SURVEY.md §5.3:
never sleep-based).

Chunks are split on explicit event-time boundaries so watermark
progress (and therefore late-row dropping) is reproducible and
expressible in the DuckDB oracle.

Every streaming query in the package — the landing stream and every
`stream_*` operator — starts through `run_stream`: one replay source
(`replay_source`), one checkpoint and one AvailableNow launch; only
the sink differs (memory, noop, a parquet path or a foreachBatch
function). What a stream ran is read back from Spark's SQL execution
store (`session.executed_plans`): every micro-batch is one execution
described `<name> ... batch = <n>`, and the writes and collects of a
foreachBatch body are executions rooted at it.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

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


def replay_source(spark: SparkSession, staged_dir: str, schema) -> DataFrame:
    """The replay source over staged chunks: one file per micro-batch,
    oldest file first (Spark's default order)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )


def run_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    transform: Callable[[DataFrame], DataFrame] | None,
    name: str,
    output_mode: str = "append",
    sink: str | Callable[[DataFrame, int], None] = "memory",
    fresh: bool = True,
) -> StreamingQuery:
    """The package's one stream launch: replay source → `transform`
    (None: the source as is) → sink, driven to completion with
    AvailableNow; returns the finished query. Its micro-batches are
    in Spark's SQL execution store, described by `name`
    (`session.executed_plans`). The sink is "memory" (read it back
    with `spark.table(name)`), "noop", a parquet output path (Spark's
    file sink with its `_spark_metadata` log), or a foreachBatch
    function. The checkpoint lives at SCRATCH/checkpoints/<name> and
    is wiped first unless `fresh=False` (a restart from it)."""
    out = replay_source(spark, staged_dir, schema)
    if transform is not None:
        out = transform(out)
    ckpt = os.path.join(SCRATCH, "checkpoints", name)
    if fresh:
        shutil.rmtree(ckpt, ignore_errors=True)
    w = (
        out.writeStream.outputMode(output_mode)
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if callable(sink):
        w = w.foreachBatch(sink)
    elif sink in ("memory", "noop"):
        w = w.format(sink)
    else:
        w = w.format("parquet").option("path", sink)
    q = w.start()
    q.awaitTermination()
    return q


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
