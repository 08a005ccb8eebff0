"""Global anti-pattern plan sweep → PLANSWEEP.json.

PLANCHECK.json asserts deep per-query plan properties for the
scale-critical operators; this sweep asserts ONE property globally:
no registered batch operator's plan contains a
BroadcastNestedLoopJoin or CartesianProduct over data-scaled inputs —
the two operators that turn 100 TB into |A|·|B| comparisons — unless
the query is on the explicit allowlist below with a reason (the
operator IS a cross product, or the nested-loop side is a bounded
literal/constant frame that never scales with the corpus).

Streaming operators are swept too (r10 — the r9 verdict's
n_skipped_streaming item): their plans are micro-batch-internal, so
building the result DataFrame EXECUTES the replay, and the sweep
reads the plans the run actually executed from Spark's SQL execution
store (`session.executed_plans`): every execution that ran during
the operator's invocation — each micro-batch, the writes and collects
of each foreachBatch body (land.py, stream_ann_serve,
stream_cdc_apply), every phase of multi-phase operators (restart
recovery's two runs) and the operator's build-time collects — plus
the plan of the returned frame.

Usage: python scripts/plan_sweep.py [sf_dir]   (default sf0.01)
Writes PLANSWEEP.json: {query: {bnlj: n, cartesian: n, allowed: bool,
reason}} plus a summary; exits non-zero on any unallowed hit.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flume_hive_batched_sink_spark import operators as ops
from flume_hive_batched_sink_spark.session import executed_plans, get_spark
from scripts.dump_plans import _formatted

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# name -> why a nested-loop/cartesian is legitimate THERE. Every
# entry was adjudicated by reading the executed plan: in each case
# the BNLJ's BuildRight side is a BROADCAST of a bounded frame — a
# 1-row global aggregate or a fixed probe/centroid set — so the
# nested loop is O(N·k) with k a constant, which is exactly the
# "join the corpus with a scalar" pattern, not an |A|·|B| blowup.
ALLOWED = {
    "join_cross": "the operator IS the cross product (bounded dims: "
    "region x nation audit grid)",
    "ns_similarity_topk": "brute-force exact top-k baseline BY "
    "DESIGN: corpus x fixed 5-probe frame; the scale paths are "
    "ann_lsh / ann_ivf",
    "ns_similarity_ann_ivf": "keyless joins against the broadcast "
    "centroid frame, capped at _IVF_MAX_CELLS=64 rows — the linear "
    "N*C assignment the cap exists to bound",
    # ns_similarity_ivfpq / ns_similarity_ivfpq_residual need NO
    # entry since r15: the coarse assignment is the row-local
    # array_min over collected centroid literals (similarity.
    # _ivf_assigned), so the broadcast-BNLJ centroid expansion those
    # entries allowlisted no longer exists in either plan — the
    # sweep verifies both clean.
    "ns_bm25_topk": "1-row broadcast corpus-stats scalar (N, total "
    "tokens) crossed onto the query-term tf aggregate for the "
    "idf/length normalizers — never the corpus",
    "ns_ivf_cell_stats": "the shared 64-row broadcast centroid "
    "assignment (the ns_similarity_ann_ivf pattern) plus a 1-row "
    "broadcast total scalar crossed onto the C-row counts frame",
    # ns_hybrid_prf needs NO entry since r13: the lexical BM25 pass
    # (whose 1-row stats broadcast was the allowlisted BNLJ) now
    # executes at plan-build time (bounded collect, r12 advice), so
    # the RETURNED plan is the vector pass + a LocalTableScan fusion
    # — the sweep verifies it clean.
    "ns_rank_fusion_rrf": "inherits ns_similarity_topk's corpus x "
    "5-probe broadcast (the exact-list component by design); the "
    "fusion join itself is (probe, neighbor)-keyed over two "
    "k*|probes|-row frames",
    "ns_ann_recall_eval": "inherits ns_similarity_topk's corpus x "
    "5-probe broadcast (the exact baseline IS the recall "
    "denominator) plus the capped-64-row broadcast centroid "
    "assignment from ns_similarity_ann_ivf; the recall join itself "
    "is (query, neighbor)-keyed over two k*|probes|-row frames",
    "ns_hard_negatives": "inherits ns_similarity_topk's corpus x "
    "5-probe broadcast (the exact pool the band rule mines); both "
    "rank gates push into WindowGroupLimit",
    "ns_embedding_filter_join": "corpus x fixed 5-probe broadcast "
    "frame (the probe screen is the operator)",
    "ns_embedding_matryoshka": "the ns_similarity_topk corpus x "
    "5-probe broadcast, instantiated once per audited prefix dim "
    "plus the shared full ranking (every nested-loop side is the "
    "bounded probe frame); the overlap joins themselves are "
    "(query, neighbor)-keyed over k*|probes|-row frames",
    "ns_contamination_semantic": "corpus x ONE-ROW broadcast (the "
    "benchmark collapsed to a single array<struct> row; the argmax "
    "is a row-local HOF fold, so the corpus x |eval| frame never "
    "exists) — the LSH pre-screen is the documented huge-|eval| "
    "continuation",
    "ns_tfidf_topterms": "1-row broadcast n_sources scalar joined "
    "for the IDF denominator",
    "agg_histogram_equidepth": "1-row broadcast of the 9 global "
    "quantile boundaries (percentile aggregate) bucketing the scan",
    "ns_domain_mixture": "1-row broadcast corpus-total scalar for "
    "share normalization",
    "ns_mix_plan": "1-row broadcast totals scalar for mixture "
    "weights",
    "ns_sample_temperature": "two 1-row broadcast scalars (corpus "
    "total, exact-decimal weight-sum normalizer) joined onto the "
    "|langs|-row weight table — nothing corpus-scaled on either "
    "side of a nested loop",
    "ns_pmi_collocations": "1-row broadcast total-bigram scalar (B "
    "in the PMI numerator) joined onto the vocab²-bounded bigram "
    "aggregate — never the corpus",
    "ns_token_burstiness": "1-row broadcast n_docs scalar joined "
    "onto the vocab-bounded token aggregate (the PMI total-scalar "
    "pattern) — never the corpus",
    "ns_lang_divergence": "two bounded broadcasts (|langs|-row "
    "totals, 1-row corpus total) crossed onto the vocab-bounded "
    "token aggregate to build the |vocab|·|langs| frame — never the "
    "corpus, which is read once and only aggregated",
    "ns_embedding_outlier": "1-row broadcast distance-moments scalar "
    "(n, Σd2, Σd2²) joined back onto the d2 frame for z-scoring — "
    "the join-the-corpus-with-a-scalar pattern; the mean vector "
    "itself is row-local literals, no join",
    "ns_mix_anneal": "|langs|-row aggregate crossed with a 1-row "
    "totals broadcast and the |epochs|-row literal grid — every "
    "nested-loop side is bounded; the corpus contributes one lang "
    "hash agg",
    "ns_curation_verdict": "inherits ns_embedding_outlier's 1-row "
    "distance-moments broadcast (the shared _outlier_frame); every "
    "other join is sha256- or doc_id-keyed",
    "ns_source_overlap": "the pairwise grid IS the operator: a "
    "theta self-join (src_a < src_b) over the |sources|-row "
    "signature AGGREGATE (20 rows at any corpus size) — the corpus "
    "contributes one keyed agg and never enters a nested loop",
    "ns_quality_ccnet_buckets": "the perplexity pipeline's 1-row "
    "broadcast vocab-size scalar (shared _ppl_perdoc front); the "
    "cutoff join itself is lang-KEYED, not a nested loop",
    "ns_vocab_coverage": "1-row broadcast total-token scalar for "
    "coverage shares",
    "ts_seasonality_profile": "1-row broadcast global-mean scalar "
    "for the seasonality index",
    "ns_quality_perplexity": "1-row broadcast vocab-size scalar (V "
    "in the add-one denominator) joined onto the bigram stream",
    "ns_sample_importance": "two 1-row broadcast scalars: smoothed "
    "token totals (lambda normalization) and the corpus-mean keep "
    "threshold",
    "ns_dedup_bloom": "1-row broadcast filter-geometry scalar "
    "(m_bits, derived from the exact base key count) joined onto "
    "build and probe streams",
    # ns_cluster_kmeans / ns_semdedup / ns_semdedup_auto need NO
    # entries: assignment is the row-local clustering._assign kernel
    # (no join at all) and the semdedup pair join is cl-keyed — the
    # sweep verifies all three clean.
    # first adjudicated by the r10 streaming sweep (previously the
    # whole family was skipped):
    "stream_windowed_topk_state": "1-row broadcast of the final "
    "watermark scalar cross-joined onto the per-window snapshots for "
    "the emission gate (streaming_ops.py final.crossJoin(wm)) — the "
    "join-the-corpus-with-a-scalar pattern; the snapshot side is "
    "|live windows| rows, not the corpus",
}


def main() -> None:
    spark = get_spark(app_name="plan-sweep")
    results: dict[str, dict] = {}
    bad: list[str] = []
    errors: list[str] = []
    hit_names: set[str] = set()

    for name, fn in ops.QUERIES.items():
        is_stream = name.startswith("stream_")
        try:
            if is_stream:
                last = max((e[0] for e in executed_plans(spark)), default=-1)
            df = fn(spark, SF)
            if is_stream:
                new = executed_plans(spark, last)
                if not any("batch = " in e[2] for e in new):
                    raise RuntimeError(
                        "no micro-batch executed — the operator "
                        "started no stream through stage.run_stream"
                    )
                plan = "".join(e[3] for e in new) + _formatted(df)
            else:
                plan = _formatted(df)
        except Exception as exc:  # pragma: no cover - sweep robustness
            # a build failure is NOT a policy violation — record it
            # separately so "unallowed" stays exactly what README
            # says it is (observed nested loops off the allowlist)
            results[name] = {"error": str(exc)[:200]}
            errors.append(name)
            continue
        bnlj = plan.count("BroadcastNestedLoopJoin")
        cart = plan.count("CartesianProduct")
        hit = bnlj + cart > 0
        if hit:
            hit_names.add(name)
        ok = (not hit) or name in ALLOWED
        results[name] = {
            "bnlj": bnlj,
            "cartesian": cart,
            "allowed": name in ALLOWED,
            "reason": ALLOWED.get(name, ""),
        }
        if not ok:
            bad.append(name)
        print(f"{name:32s} bnlj={bnlj} cart={cart} "
              f"{'ALLOWED' if name in ALLOWED and hit else ('BAD' if not ok else 'ok')}",
              flush=True)
    # allowlist rot guard: an entry that no longer hits is stale —
    # surface it so a future regression can't hide under a reason
    # written for a plan that no longer exists
    stale_allowlist = sorted(set(ALLOWED) - hit_names)
    summary = {
        "sf_dir": SF,
        "n_swept": sum(1 for r in results.values() if "bnlj" in r),
        "n_skipped_streaming": sum(
            1 for r in results.values() if "skipped" in r
        ),
        "unallowed": sorted(bad),
        "build_errors": sorted(errors),
        "stale_allowlist": stale_allowlist,
        "queries": results,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANSWEEP.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"wrote PLANSWEEP.json: {summary['n_swept']} swept, "
          f"unallowed={bad}, build_errors={errors}, "
          f"stale_allowlist={stale_allowlist}")
    sys.exit(1 if (bad or errors or stale_allowlist) else 0)


if __name__ == "__main__":
    main()
