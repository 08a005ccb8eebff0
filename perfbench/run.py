"""spark-graft benchmark: landing micro-batches and query passes.

    python3 perfbench/run.py --workload land_small --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, the run records spans
(written to perfbench/work/out/) and reads Spark's status store.  A
readable report of everything measured goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
DATA = os.path.join(HERE, "data")

# the landing workload's traffic: batch size, batches in the stream,
# event time per batch, late share and lateness, event_type skew, body
# size; and how many of the stream's first batches are the warm-up
LAND = {
    "land_small": dict(
        batch_events=1_000, batches=9, span_s=150, late_share=0.03,
        late_max_s=600, zipf_a=1.2, n_types=12, body_pad=96,
    ),
}
WARM_BATCHES = {"land_small": 3}
SETUP_REPS = 3


def _pin_environment(work: str, cpus: int) -> None:
    """Same program on both sides of a comparison: engine knobs unset,
    core count explicit, every scratch file inside `work`."""
    for knob in ("SPARK_GRAFT_UNROLLED_DOT", "SPARK_GRAFT_ASSIGN_HOF",
                 "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(knob, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM (the launcher too): temp files inside `work`, no
        # hsperfdata file in the system temp directory, and the C1
        # compiler only.  A run is one short-lived JVM: with C2 it ends
        # while C2 is still compiling, and C2's compiler threads were
        # then the largest share of the CPU measured and the one that
        # moved most (a fifth of the first timed pass after a one-pass
        # warm-up, half that three passes later).  C1 code settles
        # within the warm-up.
        JAVA_TOOL_OPTIONS=(f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 "
                           f"-Djava.io.tmpdir={tmp}"),
    )


def _start_session(work: str, cpus: int):
    from flume_hive_batched_sink_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def result_line(spec: dict, trace: int, values: dict, checks: dict,
                attempted: int, failed: int) -> dict:
    """The last output line: every end-to-end metric of `spec` (or,
    traced, every per-layer one) with its unit.  A layer the workload
    does not run reads 0."""
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    return {
        "correct": all(checks.values()),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)),
                        "unit": m["unit"]}
            for m in declared
        },
    }


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def _measure(args, spec: dict, work: str, cpus: int) -> tuple[dict, dict]:
    """One run; returns (report, result line)."""
    sys.path.insert(0, ROOT)
    from bench import _ambient_stamp

    from perfbench.sparkstat import own_cpu_s, cpu_ticks, steal_share
    from perfbench.trace import Tracer, self_time_by_name

    other_jvms, load1 = _ambient_stamp()
    ticks0 = cpu_ticks()
    tracer = Tracer(enabled=bool(args.trace))
    c0, t0 = own_cpu_s(), time.perf_counter()
    with tracer.span("session.start", trace="setup"):
        spark = _start_session(work, cpus)
    start_s, start_cpu = time.perf_counter() - t0, own_cpu_s() - c0
    endpoint = None
    try:
        if args.workload in LAND:
            from perfbench import land
            from perfbench.endpoint import NotifyEndpoint
            from perfbench.gen import Traffic

            endpoint = NotifyEndpoint()
            res = land.run(spark, Traffic(**LAND[args.workload]),
                           WARM_BATCHES[args.workload], args.seed, work,
                           tracer, endpoint, SETUP_REPS)
        else:
            from perfbench import query

            res = query.run(spark, args.workload, args.seed, args.seconds,
                            DATA, tracer)
        from perfbench.sparkstat import peak_rss_mb

        rss = peak_rss_mb(spark)
    finally:
        if endpoint is not None:
            endpoint.close()
        _stop(spark)

    # End-to-end figures are CPU seconds: host contention moves them
    # less than wall time.  Wall-clock figures are reported beside them.
    e2e = {
        "setup_s": start_cpu + _median(res.get("gen_cpu", []))
        + res["warmup_cpu"],
        "op_cpu_s": res["op_cpu_s"],
    }
    layers = {
        "session.start_s": start_s,
        "session.warmup_s": res["warmup_s"],
        "session.setup_wall_s": start_s + _median(res.get("gen_s", []))
        + res["warmup_s"],
        "session.peak_rss_mb": rss,
        "bench.pass_s": res["pass_s"],
        "bench.op_p50_s": res["op_p50_s"],
        "bench.readback_s": res["readback_s"],
        "bench.readback_cpu_s": res["readback_cpu_s"],
        "bench.error_rate": res["failures"] / res["attempted"],
    }
    if tracer.enabled:
        if args.workload in LAND:
            layers.update(land.layers(res, LAND[args.workload]))
        else:
            layers.update(query.layers(res))
        out_dir = os.path.join(HERE, "work", "out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl")
        )
        layers.update({
            f"self.{k}_s": v
            for k, v in self_time_by_name(tracer.spans).items()
        })

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": cpus,
        "ambient_other_jvms": other_jvms,
        "ambient_load1": load1,
        # share of CPU time the hypervisor gave to other guests during
        # the run: high values mark runs slowed by neighbours
        "steal_share": steal_share(ticks0, cpu_ticks()),
        "timed_s": res["timed_s"],
        # CPU seconds of each timed unit: a micro-batch, or a query pass
        "timed_cpu_s": res["timed_cpu"],
        # (seconds, percentile, samples) of the highest percentile of
        # triggerExecution with ten samples beyond it; None below 11
        "batch_tail": res.get("op_tail"),
        "checks": res["checks"],
        "problems": res.get("problems", {}),
        "per_query_cpu_s": res.get("per_query_cpu", {}),
        "metrics": {**e2e, **layers},
    }
    line = result_line(spec, args.trace, {**e2e, **layers}, res["checks"],
                       res["attempted"], res["failures"])
    return report, line


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _pin_environment(work, cpus)
    try:
        report, line = _measure(args, spec, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, indent=1, default=str), file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
