"""SemDeDup / k-means 100x decade.

Re-measures the SCALING.md row `ns_semdedup (auto_k path, k=781;
embeddings-only 100x corpus)` — r9 read 10.16 s -> 541.4 s (ratio
53.3), dominated by the n*k*dim interpreted HOF assignment — on the
shipped assignment (the row-local clustering._assign kernel, and the
2-level tree at k >= _HIER_ASSIGN_MIN_K), plus ns_cluster_kmeans at
its registered k=8 geometry.

Corpus: embeddings-only blow-up (scale_check's key-shift rule) —
building all tables at K=100 would be a multi-hundred-GB lineitem
write for a measurement that only reads embeddings.

Usage: python scripts/semdedup_decade.py [K]   (default 100; run SOLO)
Prints one JSON line with 1x / Kx timings per variant.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flume_hive_batched_sink_spark.catalog import load_table
from flume_hive_batched_sink_spark.scratch import SCRATCH
from flume_hive_batched_sink_spark.session import get_spark
from scripts.scale_check import BASE_SF, scaled_copy


def build_embeddings_only(spark, k: int) -> str:
    out = os.path.join(SCRATCH, f"scale{k}x_emb")
    dst = os.path.join(out, "embeddings.parquet")
    base = load_table(spark, BASE_SF, "embeddings")
    parts = [scaled_copy(base, "embeddings", i) for i in range(k)]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.repartition(32).write.mode("overwrite").parquet(dst)
    return out


def timed(build) -> float:
    """warmup + best-of-2 (bench.py protocol), noop sink."""
    build().write.mode("overwrite").format("noop").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        build().write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def main() -> None:
    k_blow = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_spark(app_name="semdedup-decade")
    print(f"building {k_blow}x embeddings-only corpus ...", flush=True)
    big = build_embeddings_only(spark, k_blow)

    from flume_hive_batched_sink_spark.operators.clustering import (
        auto_k,
        semdedup_frame,
    )
    from flume_hive_batched_sink_spark import operators as ops

    results: dict[str, dict] = {}

    def sem(sf_dir):
        n = load_table(spark, sf_dir, "embeddings").count()
        return semdedup_frame(spark, sf_dir, auto_k(n))  # production 256

    n1 = load_table(spark, BASE_SF, "embeddings").count()
    nk = load_table(spark, big, "embeddings").count()
    results["semdedup_auto256_shipped"] = {
        "k_1x": auto_k(n1),
        "k_Kx": auto_k(nk),
        "t_1x": timed(lambda: sem(BASE_SF)),
        "t_Kx": timed(lambda: sem(big)),
    }
    r = results["semdedup_auto256_shipped"]
    r["ratio"] = round(r["t_Kx"] / r["t_1x"], 1)
    print("semdedup auto-k (shipped):", r, flush=True)

    # the REGISTERED auto op (gate cell 32 ⇒ k = n/32): its own
    # decade row — at K=10 the join expansion is n*k = n²/32 rows,
    # the honest quadratic-constant the SCALING.md sixth wave
    # discusses (the op only reads embeddings, so the embeddings-only
    # corpus is sufficient)
    results["ns_semdedup_auto_registered_cell32"] = {
        "t_1x": timed(
            lambda: ops.QUERIES["ns_semdedup_auto"](spark, BASE_SF)
        ),
        "t_Kx": timed(
            lambda: ops.QUERIES["ns_semdedup_auto"](spark, big)
        ),
    }
    r = results["ns_semdedup_auto_registered_cell32"]
    r["ratio"] = round(r["t_Kx"] / r["t_1x"], 1)
    print("ns_semdedup_auto (registered):", r, flush=True)

    key = "kmeans_k8"
    results[key] = {
        "t_1x": timed(
            lambda: ops.QUERIES["ns_cluster_kmeans"](spark, BASE_SF)
        ),
        "t_Kx": timed(lambda: ops.QUERIES["ns_cluster_kmeans"](spark, big)),
    }
    results[key]["ratio"] = round(
        results[key]["t_Kx"] / results[key]["t_1x"], 1
    )
    print(key, results[key], flush=True)
    print(json.dumps({"K": k_blow, "n_1x": n1, "n_Kx": nk, **results}))


if __name__ == "__main__":
    main()
