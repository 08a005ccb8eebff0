"""Query workloads: passes over operator functions from `QUERIES`.

One pass calls each query's operator function (the build, which for
the curation operators runs driver-side iterations) and executes the
returned DataFrame to the noop sink.  The seed fixes the query order
within each pass.  Outputs are checked once, after timing, against
the DuckDB oracle.
"""

from __future__ import annotations

import gc
import random
import statistics
import time

from .sparkstat import StatusStore, own_cpu_s
from .trace import Tracer

WARM_PASSES = 2
QUERY_SETS = {
    "query_curation": (
        "ns_bpe_merges",
        "ns_kcenter_coreset",
    ),
}


class _Collected:
    """What `oracle_harness.compare` reads from a DataFrame, prefetched
    so the collect can be timed apart from the oracle's own work."""

    def __init__(self, columns, rows) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of `df`'s own query execution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()  # forces analysis, optimisation and planning
    phases = qe.tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def _one(spark, sc, name, fn, data_dir, tracer: Tracer, trace: str, stats,
         built: dict):
    store = StatusStore(spark) if tracer.enabled else None
    with tracer.span("query", trace=trace) as qid:
        if tracer.enabled:
            sc.setJobGroup(f"{trace}:build", name)
        t0 = time.perf_counter()
        with tracer.span("query.build", parent=qid, trace=trace):
            df = fn(spark, data_dir)
        build = time.perf_counter() - t0
        built[name] = df
        if tracer.enabled:
            with tracer.span("query.plan", parent=qid, trace=trace):
                phases = _phases_ms(df)
            sc.setJobGroup(f"{trace}:exec", name)
        t1 = time.perf_counter()
        with tracer.span("query.exec", parent=qid, trace=trace):
            df.write.mode("overwrite").format("noop").save()
        done = time.perf_counter()
    if tracer.enabled:
        sc.setJobGroup(None, None)
        b = store.jobs_in_group(f"{trace}:build")
        e = store.jobs_in_group(f"{trace}:exec")
        stats.append(
            {
                "name": name,
                "build_s": build,
                "exec_s": done - t1,
                "build_jobs": b.jobs,
                "exec_jobs": e.jobs,
                "analysis_ms": phases.get("analysis", 0.0),
                "optimization_ms": phases.get("optimization", 0.0),
                "planning_ms": phases.get("planning", 0.0),
                "stages": b.stages + e.stages,
                "tasks": b.tasks + e.tasks,
                "executor_run_s": (b.executor_run_ms + e.executor_run_ms)
                / 1000.0,
                "shuffle_read_bytes": b.shuffle_read_bytes
                + e.shuffle_read_bytes,
                "shuffle_write_bytes": b.shuffle_write_bytes
                + e.shuffle_write_bytes,
                "spill_bytes": b.spill_bytes + e.spill_bytes,
            }
        )
    return done - t0


def run(spark, workload: str, seed: int, seconds: float, data_dir: str,
        tracer: Tracer) -> dict:
    from flume_hive_batched_sink_spark import operators as ops

    names = list(QUERY_SETS[workload])
    sc = spark.sparkContext
    res: dict = {}

    c0, t0 = own_cpu_s(), time.perf_counter()
    with tracer.span("setup.warmup", trace="setup"):
        # two warm-up passes, fixed order: after a single one, each of
        # the next passes still took up to a fifth less CPU than the
        # pass before it
        for _ in range(WARM_PASSES):
            for name in names:
                ops.QUERIES[name](spark, data_dir).write.mode(
                    "overwrite"
                ).format("noop").save()
    res["warmup_s"] = time.perf_counter() - t0
    res["warmup_cpu"] = own_cpu_s() - c0

    rng = random.Random(seed)
    passes, cpu, stats, built = [], [], [], {}
    per_query = {n: [] for n in names}
    per_query_cpu = {n: [] for n in names}
    # at least three passes, reported as their median.  A traced run
    # traces every other pass, starting with the second, so that
    # untraced and traced passes give the tracing overhead
    tracing, traced = tracer.enabled, []
    t_run = time.perf_counter()
    while len(passes) < 3 or time.perf_counter() - t_run < seconds:
        tracer.enabled = tracing and len(passes) % 2 == 1
        traced.append(tracer.enabled)
        order = names[:]
        rng.shuffle(order)
        wall_sum = cpu_sum = 0.0
        for name in order:
            # a full collection between queries, outside the measured
            # span, so no query pays for garbage an earlier one left
            gc.collect()
            spark._jvm.System.gc()
            c_one = own_cpu_s()
            per_query[name].append(
                _one(spark, sc, name, ops.QUERIES[name], data_dir, tracer,
                     f"pass{len(passes) + 1}/{name}", stats, built)
            )
            per_query_cpu[name].append(own_cpu_s() - c_one)
            wall_sum += per_query[name][-1]
            cpu_sum += per_query_cpu[name][-1]
        passes.append(wall_sum)
        cpu.append(cpu_sum)
    res["timed_s"] = time.perf_counter() - t_run
    tracer.enabled = tracing
    res["pass_s"] = statistics.median(passes)
    res["op_cpu_s"] = statistics.median(cpu)
    res["timed_cpu"] = cpu
    res["op_p50_s"] = statistics.median(
        [t for ts in per_query.values() for t in ts]
    )
    res["per_query"] = per_query
    res["per_query_cpu"] = per_query_cpu
    res["stats"] = stats
    res["pass_walls"] = passes
    res["traced"] = traced
    res["attempted"] = len(passes) * len(names)

    # read-back of the last pass's results, and the oracle check
    # (untimed except for the collect)
    from tests.oracle_harness import compare, duck_connection

    con = duck_connection(data_dir)
    readback = readback_cpu = 0.0
    problems = {}
    for name in names:
        df = built[name]
        c, t = own_cpu_s(), time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        readback += time.perf_counter() - t
        readback_cpu += own_cpu_s() - c
        bad = compare(_Collected(df.columns, rows), con, ops.ORACLE[name])
        if bad:
            problems[name] = bad
    con.close()
    res["readback_s"] = readback
    res["readback_cpu_s"] = readback_cpu
    res["checks"] = {"oracle_match": not problems}
    res["problems"] = problems
    res["failures"] = len(problems)
    return res


_QSTAT = ("build_s", "build_jobs", "analysis_ms", "optimization_ms",
          "planning_ms", "exec_s", "exec_jobs", "stages", "tasks",
          "executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes",
          "spill_bytes")


def layers(res: dict) -> dict:
    """Per-layer figures of a traced run: each query.* figure is summed
    over the workload's queries, per traced pass."""
    n_pass = max(1, sum(res["traced"]))
    out = {
        f"query.{k}": sum(s[k] for s in res["stats"]) / n_pass
        for k in _QSTAT
    }
    walls = list(zip(res["pass_walls"], res["traced"]))
    on = statistics.median([w for w, t in walls if t])
    off = statistics.median([w for w, t in walls if not t])
    out["bench.tracing_overhead"] = on / off - 1.0
    for name, ts in res["per_query"].items():
        out[f"query.{name}.wall_s"] = statistics.median(ts)
    return out
