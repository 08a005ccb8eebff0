"""Dump formatted physical plans for the headline queries → PLANS.md,
and machine-check the scale-critical plan properties → PLANCHECK.json.

Run after operator changes; PLANS.md documents that filters reach
the scans, dims broadcast, aggregates are two-phase, and bucketed
joins carry no Exchange — the plan properties the 100 TB design
relies on (README "Design for 100 TB"). PLANCHECK.json mirrors the
pytest plan assertions (tests/test_properties.py) as a standalone
artifact: each row is {property, pass, evidence} so the pushdown /
zero-Exchange / might_contain / row-group-skipping claims are
verifiable without running Spark.
"""

from __future__ import annotations

import json
import os
import re as _re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flume_hive_batched_sink_spark import operators as ops  # noqa: E402
from flume_hive_batched_sink_spark.session import get_spark  # noqa: E402

PLAN_QUERIES = [
    "scan_pruned",
    "flagship_pipeline",
    "agg_multi",
    "join_multiway",
    "join_bucketed",
    "join_asof",
    "win_topk_per_group",
    "sessionize",
    "ns_dedup_exact",
    "ns_similarity_topk",
    # scale-shape rebuilds (round 2): bucketed pair generation and
    # one-groupBy signature builds — check NO BroadcastNestedLoopJoin
    # over the corpus and NO per-row interpreted HOF aggregates.
    "ns_dedup_embedding",
    "ns_dedup_simhash",
    "ns_similarity_ann_lsh",
    # round 4 additions: one-aggregate OHLC (no window pass), bitmap
    # exact-distinct (two partial-agg shuffles), inverted-index
    # substring dedup, and the bigram LM pass (window + one hash agg).
    "ts_resample_ohlc",
    "agg_bitmap_distinct",
    "ns_dedup_exact_substring",
    "ns_bigram_stats",
    # round 5 additions: single-Exchange gaps-and-islands, join-free
    # posting-list pair generation, broadcast quantization pass.
    "win_streaks",
    "ns_embedding_quantize",
    # round 5 late additions: funnel/retention event analytics,
    # native unpivot, vocab coverage top-K, MAD outlier screen,
    # SCD2 point-in-time join, encode pass.
    "ts_window_funnel",
    "ts_retention_cohort",
    "unpivot_melt",
    "ns_vocab_coverage",
    "ts_anomaly_mad",
    "join_scd2",
    "ns_tokenize_encode",
    "scan_profile_stats",
    "ns_blocklist_filter",
    "ts_cumulative_uniques",
    "join_asof_forward",
    "agg_histogram_equidepth",
    "scan_agg_pushdown",
    # capped-geometry IVF: TakeOrderedAndProject centroid pick +
    # broadcast cell assignment (see _IVF_MAX_CELLS).
    "ns_similarity_ann_ivf",
    # round 6: correlated subqueries de-correlated to semi/anti
    # joins; distributed two-pass exact percentile selection.
    "sql_exists_subquery",
    "agg_percentile",
    # round 8: shared two_level_rank (no bare-key window) and the
    # md5-based minhash (ReusedExchange across band self-join sides).
    "win_ntile_dist",
    "ns_dedup_minhash",
    # round 8 value-bounded sketch conversions: the band harnesses
    # must not bend the scale shape (sort-free rank-count check,
    # single-scan estimate+exact).
    "agg_approx_percentile",
    "agg_approx_distinct",
    # round 9: the curation suite — row-local bigrams (no Window),
    # broadcast model joins, join-free literal-centroid assignment,
    # keyed within-cluster pairs.
    "ns_quality_perplexity",
    "ns_sample_importance",
    "ns_dedup_bloom",
    "ns_cluster_kmeans",
    "ns_semdedup",
    "ns_sample_weighted_topk",
    "ns_quality_entropy",
    # round 11: the de-windowed decontamination argmax (1-row
    # broadcast + HOF fold, zero exchange) and component-level
    # SemDeDup keepers (keyed pairs + checkpointed fixpoint).
    "ns_contamination_semantic",
    "ns_semdedup_components",
    # round 11 second wave: zero-shuffle SRP sketches, sample-bounded
    # CCNet cutoff training, scalar-broadcast temperature mixing.
    "ns_embedding_rp",
    "ns_quality_ccnet_buckets",
    "ns_sample_temperature",
    "ns_kcenter_coreset",
    "ns_pmi_collocations",
    "ns_winnowing_fingerprint",
    # round 11 third wave: vocab-bounded Zipf rank window, sort-free
    # burstiness top-k, bounded-broadcast JS divergence, fp-keyed
    # novelty join.
    "ns_zipf_fit",
    "ns_token_burstiness",
    "ns_lang_divergence",
    "ns_ngram_novelty",
    # round 11 fourth wave: the PQ chain (row-local encode, pushed
    # per-probe top-k), provenance-space capping, row-local noise
    # screen.
    "ns_embedding_pq",
    "ns_similarity_pq_adc",
    "ns_host_cap",
    "ns_ocr_noise",
    # round 12: the composed IVFADC (cell-pruned ADC scan), BM25
    # lexical retrieval (scan-level query-vocabulary prefilter), the
    # PRF hybrid, power-iteration PCA, and grouped-map EWMA.
    "ns_similarity_ivfpq",
    "ns_bm25_topk",
    "ns_hybrid_prf",
    "ns_embedding_pca",
    "ts_ewma",
    # round 13: the residual IVFADC encode and the persisted-index
    # (partition-pruned) serving path.
    "ns_similarity_ivfpq_residual",
    "ns_ann_index_serve",
    # round 13 later waves: the shared-exchange timeline joins and
    # the two-stage fuzzy dedup.
    "join_asof_nearest",
    "ts_interval_coverage",
    "ns_dedup_fuzzy",
    # round 14: the blue/green generation serve (pruned read against
    # the NEW generation directory), the winnowing-bridge verbatim
    # dedup, the bucketed interval×interval join, and the band-rule
    # negative miner.
    "ns_ann_index_refresh",
    "ns_dedup_verbatim",
    "join_interval_overlap",
    "ns_hard_negatives",
]


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def plan_checks(spark, sf_dir: str) -> list[dict]:
    """The scale-critical plan properties, as checkable facts. Each
    mirrors a pytest assertion; the JSON artifact exists so the claims
    are auditable without a Spark session."""
    checks: list[dict] = []

    def add(name: str, prop: str, ok: bool, evidence: str) -> None:
        checks.append(
            {"query": name, "property": prop, "pass": bool(ok),
             "evidence": evidence[:300]}
        )

    # scan_pruned: predicate pushdown + column pruning reach parquet.
    p = _executed(ops.QUERIES["scan_pruned"](spark, sf_dir))
    pushed = ""
    if "PushedFilters: [" in p:
        pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0].strip()
    add("scan_pruned", "parquet scan has non-empty PushedFilters",
        bool(pushed), f"PushedFilters: [{pushed}]")
    rs = ""
    if "ReadSchema: " in p:
        rs = p.split("ReadSchema: ", 1)[1].split("\n", 1)[0].strip()
    add("scan_pruned", "ReadSchema pruned to referenced columns",
        0 < rs.count(":") <= 4, f"ReadSchema: {rs}")

    # scan_dpp_join: runtime dynamic partition pruning on the fact scan.
    p = _formatted(ops.QUERIES["scan_dpp_join"](spark, sf_dir))
    add("scan_dpp_join", "fact scan carries dynamicpruning expression",
        "dynamicpruning" in p.lower(),
        next((ln.strip() for ln in p.splitlines()
              if "dynamicpruning" in ln.lower()), "NOT FOUND"))

    # join_bucketed: co-located join — zero Exchange, bucketed scans.
    p = _executed(ops.QUERIES["join_bucketed"](spark, sf_dir))
    add("join_bucketed", "zero Exchange in executed plan",
        "Exchange" not in p, "plan contains no Exchange node"
        if "Exchange" not in p else "Exchange FOUND")
    add("join_bucketed", "scans are bucketed", "Bucketed: true" in p,
        "Bucketed: true present" if "Bucketed: true" in p
        else "Bucketed: true MISSING")

    # join_bloom_runtime: runtime bloom semi-join filter on the fact
    # scan — built through the operator's OWN scoped-session helper,
    # so this certifies the exact configuration the operator runs.
    from flume_hive_batched_sink_spark.operators.joins import (
        _bloom_join_frame,
        bloom_scoped_session,
    )

    p = _executed(_bloom_join_frame(bloom_scoped_session(spark), sf_dir))
    add("join_bloom_runtime", "might_contain(bloom) filters fact scan",
        "might_contain" in p,
        next((ln.strip() for ln in p.splitlines()
              if "might_contain" in ln), "NOT FOUND"))

    # scan_static_prune: literal partition predicate prunes at plan
    # time (runs the write first — the query function lands the table).
    p = _executed(ops.QUERIES["scan_static_prune"](spark, sf_dir))
    pf = ""
    if "PartitionFilters: [" in p:
        pf = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0].strip()
    add("scan_static_prune", "scan carries static PartitionFilters",
        bool(pf), f"PartitionFilters: [{pf}]")

    # sort_limit_topk: top-k without a global sort.
    p = _executed(ops.QUERIES["sort_limit_topk"](spark, sf_dir))
    add("sort_limit_topk", "plans as TakeOrderedAndProject (no global sort)",
        "TakeOrderedAndProject" in p,
        "TakeOrderedAndProject present" if "TakeOrderedAndProject" in p
        else "MISSING")

    # join_multiway: dims under BroadcastExchange (fact never broadcast).
    p = _executed(ops.QUERIES["join_multiway"](spark, sf_dir))
    n_bcast = p.count("BroadcastExchange")
    add("join_multiway", "dimension tables broadcast (>=2 BroadcastExchange)",
        n_bcast >= 2, f"{n_bcast} BroadcastExchange nodes")

    # ns_dedup_exact_substring: posting-list pair generation — NO join
    # operator anywhere (the old shape self-joined the inverted index;
    # the rewrite emits pairs map-side from collected posting lists).
    p = _executed(ops.QUERIES["ns_dedup_exact_substring"](spark, sf_dir))
    joins = [ln.strip() for ln in p.splitlines()
             if "Join" in ln.split("(")[0]]
    add("ns_dedup_exact_substring",
        "no join operator (posting-list pair generation)",
        not joins, "no Join nodes" if not joins else joins[0])

    # win_streaks: the whole distinct→window→agg→agg chain shares ONE
    # Exchange (repartition(user_id) satisfies every downstream
    # clustered-distribution requirement).
    p = _executed(ops.QUERIES["win_streaks"](spark, sf_dir))
    # count EVERY Exchange (hash, round-robin, range, broadcast) —
    # counting only hashpartitioning would let e.g. a stray
    # round-robin repartition slip in without falsifying the claim
    n_ex = sum("Exchange" in ln.lstrip("+- :*").split("(")[0]
               for ln in p.splitlines())
    add("win_streaks", "single Exchange for the whole chain",
        n_ex == 1, f"{n_ex} Exchange nodes (any partitioning)")

    # ns_embedding_quantize: the corpus is never shuffle-joined — the
    # 64-row dim stats broadcast back onto the posexplode.
    p = _executed(ops.QUERIES["ns_embedding_quantize"](spark, sf_dir))
    add("ns_embedding_quantize",
        "dim stats broadcast; corpus never shuffle-joined",
        "BroadcastExchange" in p and "SortMergeJoin" not in p
        and "ShuffledHashJoin" not in p,
        f"BroadcastExchange={'BroadcastExchange' in p}, "
        f"SMJ={'SortMergeJoin' in p}, SHJ={'ShuffledHashJoin' in p}")

    # ns_vocab_coverage: top-K must be TakeOrderedAndProject (K rows
    # to one reducer), never a global Sort of the vocabulary.
    p = _executed(ops.QUERIES["ns_vocab_coverage"](spark, sf_dir))
    add("ns_vocab_coverage",
        "top-K is TakeOrderedAndProject (no global sort of the vocab)",
        "TakeOrderedAndProject" in p,
        f"TakeOrderedAndProject={'TakeOrderedAndProject' in p}")

    # unpivot_melt: the melt is a row-local Expand above the feeding
    # aggregate — no join, no shuffle introduced by the reshape.
    p = _executed(ops.QUERIES["unpivot_melt"](spark, sf_dir))
    add("unpivot_melt",
        "unpivot plans as row-local Expand (no join/extra shuffle)",
        "Expand" in p and "Join" not in p,
        f"Expand={'Expand' in p}, Join={'Join' in p}")

    # join_scd2: the versioned dim must broadcast with the validity
    # window as a residual predicate inside the hash join — never a
    # BroadcastNestedLoopJoin, never a fact shuffle.
    p = _executed(ops.QUERIES["join_scd2"](spark, sf_dir))
    add("join_scd2",
        "dim broadcast hash join, range residual (no BNLJ)",
        "BroadcastHashJoin" in p
        and "BroadcastNestedLoopJoin" not in p,
        f"BHJ={'BroadcastHashJoin' in p}, "
        f"BNLJ={'BroadcastNestedLoopJoin' in p}")

    # ns_tokenize_encode: the encode join against the K-row vocab
    # must broadcast — the corpus is never shuffled to be encoded.
    p = _executed(ops.QUERIES["ns_tokenize_encode"](spark, sf_dir))
    add("ns_tokenize_encode",
        "vocab encode join is broadcast (corpus not shuffle-joined)",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
        f"BHJ={'BroadcastHashJoin' in p}, SMJ={'SortMergeJoin' in p}")

    # scan_profile_stats: the 17-aggregate profile must read the
    # table ONCE — melting per-column stats adds aggregates, never
    # scans.
    p = _executed(ops.QUERIES["scan_profile_stats"](spark, sf_dir))
    n_scans = p.count("Scan parquet")
    add("scan_profile_stats",
        "one table scan feeds all per-column aggregates",
        n_scans == 1, f"{n_scans} parquet scans in executed plan")

    # ns_blocklist_filter: the screen is row-local — no join, no
    # hash-partition Exchange (the only allowed Exchange is the
    # local-parallelism round-robin repartition).
    p = _executed(ops.QUERIES["ns_blocklist_filter"](spark, sf_dir))
    add("ns_blocklist_filter",
        "row-local screen: no join, no hashpartitioning Exchange",
        "Join" not in p and "hashpartitioning" not in p,
        f"Join={'Join' in p}, hashpart={'hashpartitioning' in p}")

    # join_asof_forward: the timeline union must be ONE window pass —
    # no join operator anywhere (the oracle's join+row_number is the
    # semantics, not the plan) and a single hash-partition Exchange.
    p = _executed(ops.QUERIES["join_asof_forward"](spark, sf_dir))
    n_hash = p.count("hashpartitioning")
    add("join_asof_forward",
        "union-timeline plan: no Join operator, one keyed Exchange",
        "Join" not in p and n_hash == 1,
        f"Join={'Join' in p}, hashpartitioning count={n_hash}")

    # agg_histogram_equidepth: boundaries broadcast back onto the
    # scan — the corpus is never sorted globally or shuffle-joined.
    p = _executed(ops.QUERIES["agg_histogram_equidepth"](spark, sf_dir))
    add("agg_histogram_equidepth",
        "boundary set broadcast; no global Sort of the corpus",
        "BroadcastExchange" in p and "SortMergeJoin" not in p,
        f"BroadcastExchange={'BroadcastExchange' in p}, "
        f"SMJ={'SortMergeJoin' in p}")

    # scan_agg_pushdown: COUNT/MIN/MAX must be answered from parquet
    # footers — the DSv2 scan carries PushedAggregation.
    p = _executed(ops.QUERIES["scan_agg_pushdown"](spark, sf_dir))
    add("scan_agg_pushdown",
        "scan carries PushedAggregation (footer stats, no data pages)",
        "PushedAggregation" in p,
        next((ln.strip()[:200] for ln in p.splitlines()
              if "PushedAggregation" in ln), "absent"))

    # ns_similarity_ann_ivf: the fixed-geometry centroid list must be
    # picked with TakeOrderedAndProject (orderBy+limit, never a full
    # sort) and broadcast to the corpus for cell assignment — the
    # shape that keeps N·C assignment linear under _IVF_MAX_CELLS.
    p = _executed(ops.QUERIES["ns_similarity_ann_ivf"](spark, sf_dir))
    add("ns_similarity_ann_ivf",
        "TakeOrderedAndProject centroid cap + BroadcastExchange assignment",
        "TakeOrderedAndProject" in p and "BroadcastExchange" in p,
        f"TakeOrdered={'TakeOrderedAndProject' in p}, "
        f"Broadcast={'BroadcastExchange' in p}")

    # agg_percentile: the round-6 rewrite must rank on (flag, bucket)
    # partitions — a DISTRIBUTED sort — and carry no sort-in-state
    # percentile aggregate (the one-task-per-group shape it replaced).
    p = _executed(ops.QUERIES["agg_percentile"](spark, sf_dir))
    dist_sort = ("hashpartitioning(fk" in p and ", bk" in p)
    add("agg_percentile",
        "selection ranks on (flag, bucket) partitions; no in-state "
        "percentile aggregate",
        dist_sort and "percentile(" not in p,
        f"fk+bk hashpartitioning={dist_sort}, "
        f"percentile-agg={'percentile(' in p}")

    # sql_exists_subquery: all three subquery predicates must
    # de-correlate into joins — EXISTS and IN as LeftSemi, NOT EXISTS
    # as LeftAnti — with no per-row subquery re-execution anywhere.
    p = _executed(ops.QUERIES["sql_exists_subquery"](spark, sf_dir))
    n_semi = p.count("LeftSemi")
    n_anti = p.count("LeftAnti")
    add("sql_exists_subquery",
        "EXISTS/IN plan as semi-joins, NOT EXISTS as anti-join "
        "(no subquery re-execution)",
        n_semi >= 2 and n_anti >= 1 and "Subquery" not in p,
        f"LeftSemi={n_semi}, LeftAnti={n_anti}, "
        f"Subquery-in-plan={'Subquery' in p}")

    # sink_sorted_layout: execution artifact — sorted, disjoint,
    # skippable row groups (requires running the write).
    import pyarrow.parquet as pq

    from flume_hive_batched_sink_spark.scratch import SCRATCH

    ops.QUERIES["sink_sorted_layout"](spark, sf_dir).collect()
    root = os.path.join(SCRATCH, "sorted_layout")
    spans = []
    for f in os.listdir(root):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(root, f)).metadata
        idx = md.schema.to_arrow_schema().names.index("event_id")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    spans.sort()
    disjoint = all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    add("sink_sorted_layout",
        "row-group event_id ranges are disjoint (skippable layout)",
        len(spans) >= 4 and disjoint,
        f"{len(spans)} row groups, disjoint={disjoint}, "
        f"first span={spans[0] if spans else None}")

    # win_ntile_dist (r8): the two_level_rank decomposition must rank
    # inside (group, cell) partitions — never a Window over the bare
    # 5-value priority key (the 5-single-task-sort ceiling the r7
    # rewrite removed) — and the driver-built offsets must broadcast.
    p = _formatted(ops.QUERIES["win_ntile_dist"](spark, sf_dir))
    win_lines = [ln for ln in p.splitlines() if "row_number()" in ln]
    partitioned_by_cell = any("bk" in ln for ln in win_lines)
    add("win_ntile_dist",
        "rank window partitioned by (group, cell), not the bare "
        "constant-cardinality key",
        bool(win_lines) and partitioned_by_cell,
        (win_lines[0].strip() if win_lines else "row_number NOT FOUND"))
    add("win_ntile_dist", "offset table joins via BroadcastExchange",
        "BroadcastExchange" in p,
        "BroadcastExchange present" if "BroadcastExchange" in p
        else "BroadcastExchange MISSING")

    # ns_dedup_minhash (r8): both band self-join sides must come from
    # ONE persisted signature subplan — visible as InMemoryTableScan
    # on both sides — joined either via ReusedExchange (sort-merge at
    # scale) or via a BroadcastExchange of one band side (AQE's pick
    # at oracle SFs, where the band table is broadcast-small). Either
    # way the signatures are computed once and never re-derived.
    p = _executed(ops.QUERIES["ns_dedup_minhash"](spark, sf_dir))
    shared = "InMemoryTableScan" in p and (
        "ReusedExchange" in p or "BroadcastHashJoin" in p
    )
    add("ns_dedup_minhash",
        "band self-join sides share one cached signature subplan "
        "(ReusedExchange or broadcast of the cached bands)",
        shared,
        f"InMemoryTableScan={'InMemoryTableScan' in p} "
        f"ReusedExchange={'ReusedExchange' in p} "
        f"BroadcastHashJoin={'BroadcastHashJoin' in p}")

    # agg_approx_percentile (r8 value-bounded conversion): the rank
    # band check must stay sort-free — it validates the sketch by
    # COUNTING rows below each estimate (map-side-combinable sums
    # after broadcasting the ≤|groups|-row estimates), never by
    # ranking values-at-rank. A Sort or Window node here would mean
    # the harness reintroduced the per-group-sort shape the sketch
    # exists to avoid.
    p = _formatted(ops.QUERIES["agg_approx_percentile"](spark, sf_dir))
    nodes = set(_re.findall(r"\b(Sort|Window)\b", p))
    add("agg_approx_percentile",
        "band check is sort-free (no Sort/Window; rank counts only)",
        not nodes,
        f"forbidden nodes found: {sorted(nodes)}" if nodes
        else "no Sort/Window in formatted plan")
    add("agg_approx_percentile",
        "sketch estimates broadcast back to the corpus (no shuffle "
        "of lineitem for the band pass)",
        "BroadcastExchange" in p,
        "BroadcastExchange present" if "BroadcastExchange" in p
        else "BroadcastExchange MISSING")

    # agg_approx_distinct (r8): the exact count and the HLL estimate
    # must come from ONE scan of events (the band harness may not
    # double-scan the fact table).
    p = _formatted(ops.QUERIES["agg_approx_distinct"](spark, sf_dir))
    # count the numbered detail headings, not raw substrings — the
    # formatted output names each scan twice (tree line + details)
    n_scans = len(_re.findall(r"\(\d+\) Scan parquet", p))
    add("agg_approx_distinct",
        "HLL estimate and exact count share one events scan",
        n_scans == 1,
        f"{n_scans} parquet scan detail sections in formatted plan")

    # ns_quality_perplexity (r9): bigram derivation must be ROW-LOCAL
    # (array transform in the projection) — a per-doc lead() would
    # plan a Window + doc_id Exchange before the model joins.
    p = _formatted(ops.QUERIES["ns_quality_perplexity"](spark, sf_dir))
    add("ns_quality_perplexity",
        "bigram derivation is row-local (no Window operator)",
        "Window" not in p,
        "no Window node" if "Window" not in p else "Window FOUND")

    # ns_sample_importance (r9): the keep threshold is a broadcast
    # 1-row aggregate, never a global sort/rank of the corpus.
    p = _formatted(ops.QUERIES["ns_sample_importance"](spark, sf_dir))
    nodes = {n for n in ("Window", "TakeOrdered") if n in p}
    glob_sort = bool(_re.search(r"Exchange rangepartitioning", p))
    add("ns_sample_importance",
        "keep threshold via broadcast mean (no global sort/window)",
        not nodes and not glob_sort,
        f"forbidden nodes: {sorted(nodes)} rangepartitioning="
        f"{glob_sort}" if (nodes or glob_sort)
        else "no Window/TakeOrdered/rangepartitioning")

    # ns_dedup_bloom (r9): the filter build is a two-phase bit_or
    # aggregate and the probe joins the word table via broadcast.
    p = _formatted(ops.QUERIES["ns_dedup_bloom"](spark, sf_dir))
    add("ns_dedup_bloom",
        "filter build is a partial (map-side) bit_or aggregate",
        "partial_bit_or" in p or
        bool(_re.search(r"HashAggregate.*bit_or", p)),
        "bit_or partial aggregate present"
        if ("partial_bit_or" in p
            or _re.search(r"HashAggregate.*bit_or", p))
        else "bit_or partial MISSING")
    add("ns_dedup_bloom",
        "probe side joins the word table via BroadcastHashJoin",
        "BroadcastHashJoin" in p,
        "BroadcastHashJoin present" if "BroadcastHashJoin" in p
        else "BroadcastHashJoin MISSING")

    # ns_cluster_kmeans (r9): assignment is the row-local _assign
    # kernel — the final plan must contain NO join of any kind (the
    # k x 64 means travel via bounded driver collects).
    p = _formatted(ops.QUERIES["ns_cluster_kmeans"](spark, sf_dir))
    joins = _re.findall(r"(\w*Join\w*)", p)
    add("ns_cluster_kmeans",
        "assignment is join-free (row-local kernel)",
        not joins, f"join nodes: {sorted(set(joins))}" if joins
        else "no join nodes in formatted plan")

    # ns_semdedup (r9): the pair join is keyed on cl — never a
    # nested loop / cartesian over the corpus.
    p = _formatted(ops.QUERIES["ns_semdedup"](spark, sf_dir))
    bad = {n for n in ("BroadcastNestedLoopJoin", "CartesianProduct")
           if n in p}
    add("ns_semdedup",
        "within-cluster pair join is keyed (no nested loop)",
        not bad and "Join" in p,
        f"forbidden: {sorted(bad)}" if bad
        else "keyed join present, no BNLJ/cartesian")

    # ns_semdedup_auto: the pair join must stay KEYED on cl
    # (SortMergeJoin/ShuffledHashJoin) and, with assignment on the
    # row-local clustering._assign kernel at every k, there is NO
    # nested loop or cartesian anywhere — the same rule as
    # ns_semdedup, plus the keyed-join node itself.
    p = _formatted(ops.QUERIES["ns_semdedup_auto"](spark, sf_dir))
    keyed = ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    bad = {n for n in ("BroadcastNestedLoopJoin", "CartesianProduct")
           if n in p}
    add("ns_semdedup_auto",
        "keyed cl pair join; no BNLJ/cartesian (row-local assignment)",
        keyed and not bad,
        f"keyed={keyed} forbidden={sorted(bad)}")

    # ns_bpe_merges (r10): the registered operator returns a
    # driver-built 2-row literal frame (bounded Lloyd-style loop), so
    # pin the INTERNAL per-round plans instead: the weighted pair
    # count must be scan → split/explode → hash aggregate with no
    # join/window/sort anywhere (the round's only corpus-scale work).
    from flume_hive_batched_sink_spark.operators.bpe import (
        _pair_counts,
        _word_freq,
        initial_seqs,
    )
    p = _formatted(_pair_counts(initial_seqs(_word_freq(spark, sf_dir))))
    bad = [n for n in ("Join", "Window", "Sort", "CartesianProduct")
           if n in p]
    add("ns_bpe_merges",
        "pair counting is generate + hash aggregate only "
        "(no join/window/sort)",
        not bad and "HashAggregate" in p and "Generate" in p,
        f"forbidden nodes: {bad}" if bad
        else "Generate + HashAggregate, nothing else heavyweight")

    # ns_sample_weighted_topk (r9): E-S selection must be
    # TakeOrderedAndProject (per-partition top-k + k-row driver
    # merge), never a global range-partitioned sort of the corpus.
    p = _formatted(ops.QUERIES["ns_sample_weighted_topk"](spark, sf_dir))
    add("ns_sample_weighted_topk",
        "winner selection is TakeOrderedAndProject (no global sort)",
        "TakeOrderedAndProject" in p
        and not _re.search(r"Exchange rangepartitioning", p),
        "TakeOrderedAndProject present, no rangepartitioning"
        if "TakeOrderedAndProject" in p else "TakeOrdered MISSING")

    # ns_quality_entropy (r9): two hash aggregates, nothing else —
    # no joins, no windows, no sorts anywhere in the plan.
    p = _formatted(ops.QUERIES["ns_quality_entropy"](spark, sf_dir))
    nodes = {n for n in ("Join", "Window", "Sort") if n in p}
    add("ns_quality_entropy",
        "pure two-aggregate plan (no Join/Window/Sort)",
        not nodes,
        f"forbidden nodes: {sorted(nodes)}" if nodes
        else "only scans/projections/hash aggregates")

    # ns_contamination_semantic (r11): the per-vector argmax is a
    # row-local HOF fold inside the corpus projection over a ONE-ROW
    # broadcast eval array — the corpus x |eval| frame never exists,
    # so the plan must contain NO Window, NO Sort/SortAggregate over
    # anything corpus-scaled, and no range partitioning (the r10 form
    # shuffled+sorted the expanded frame through row_number; the
    # struct-max alternative still SortAggregated it).
    p = _formatted(ops.QUERIES["ns_contamination_semantic"](spark, sf_dir))
    nodes = {n for n in ("Window", "SortAggregate") if n in p}
    glob_sort = bool(_re.search(r"Exchange rangepartitioning", p))
    add("ns_contamination_semantic",
        "argmax is a row-local fold over a 1-row broadcast "
        "(no Window/SortAggregate/rangepartitioning)",
        not nodes and not glob_sort
        and "BroadcastNestedLoopJoin" in p,
        f"forbidden: {sorted(nodes)} rangepartitioning={glob_sort}"
        if (nodes or glob_sort)
        else "1-row broadcast BNLJ + HOF-fold projection only")

    # ns_semdedup_components (r11): same keyed-pair-join rule as
    # ns_semdedup (the shared _sem_near front), and the component
    # labels arrive via the checkpointed fixpoint — never a
    # cartesian/nested-loop anywhere in the final plan.
    p = _formatted(ops.QUERIES["ns_semdedup_components"](spark, sf_dir))
    bad = {n for n in ("BroadcastNestedLoopJoin", "CartesianProduct")
           if n in p}
    add("ns_semdedup_components",
        "keyed pair join + checkpointed fixpoint labels (no BNLJ/"
        "cartesian)",
        not bad and "Join" in p,
        f"forbidden: {sorted(bad)}" if bad
        else "keyed joins only, no BNLJ/cartesian")

    # ns_embedding_rp (r11): all 16 projections are row-local folds in
    # the scan projection — the only Exchange allowed is the explicit
    # parallelism repartition (round-robin); no hash/range exchange,
    # no Sort, no Window, no join anywhere.
    p = _executed(ops.QUERIES["ns_embedding_rp"](spark, sf_dir))

    def _node(ln: str) -> str:
        # physical-plan node name: strip tree chars + codegen "*(n)"
        return _re.sub(r"^(\(\d+\)\s*)?", "", ln.lstrip("+- :*")).split(
            " "
        )[0].split("[")[0]

    bad_nodes = [
        ln.strip() for ln in p.splitlines()
        if _re.search(r"Exchange (hash|range)partitioning", ln)
        or _node(ln) in ("Sort", "Window")
        or "Join" in _node(ln)
    ]
    add("ns_embedding_rp",
        "scan-side row-local folds only (no keyed exchange/sort/"
        "window/join; round-robin parallelism repartition allowed)",
        not bad_nodes,
        bad_nodes[0] if bad_nodes
        else "project-over-scan with RoundRobin repartition only")

    # ns_quality_ccnet_buckets (r11): the only Window nodes are the
    # TWO cutoff-training passes (rank + per-lang count) and both sit
    # ABOVE the md5-nibble sample Filter — i.e. they run over the
    # bounded sample, never the corpus (executedPlan prints children
    # below parents, so every Window line must precede the nibble
    # filter line); the final routing join is a broadcast of the
    # |langs|-row cutoff table.
    p = _executed(ops.QUERIES["ns_quality_ccnet_buckets"](spark, sf_dir))
    lines = p.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if _node(ln) == "Window"]
    nib_idx = [
        i for i, ln in enumerate(lines)
        if "conv(substring(md5" in ln and _node(ln) == "Filter"
    ]
    add("ns_quality_ccnet_buckets",
        "both Windows rank the bounded hash sample (above the nibble "
        "Filter) + broadcast cutoff routing join",
        len(win_idx) == 2 and bool(nib_idx)
        and max(win_idx) < min(nib_idx)
        and "BroadcastHashJoin" in p,
        f"windows@{win_idx}, nibble-filter@{nib_idx}, "
        f"bcast-join={'BroadcastHashJoin' in p}")

    # ns_sample_temperature (r11): the three consumers of the per-lang
    # count frame share ONE runtime scan — AQE exchange reuse collapses
    # the identical hashpartitioning(lang) subtrees (checked on the
    # POST-execution plan, where ReusedExchange/QueryStage appears) —
    # and every scan is pruned to the single lang column, so even the
    # static pre-reuse plan never rereads the corpus payload.
    df = ops.QUERIES["ns_sample_temperature"](spark, sf_dir)
    df.collect()
    p = _executed(df)
    n_reused = p.count("ReusedExchange") + p.count("ReusedQueryStage")
    schemas = set(_re.findall(r"ReadSchema: (\S+)", p))
    add("ns_sample_temperature",
        "count-frame exchange reused at runtime (one corpus scan); "
        "all scans pruned to lang",
        n_reused >= 2 and schemas == {"struct<lang:string>"}
        and "IdentityBroadcastMode" in p,
        f"reused={n_reused}, schemas={sorted(schemas)}, "
        f"identity-broadcast={'IdentityBroadcastMode' in p}")

    # ns_kcenter_coreset (r11): the assignment is the selection loop's
    # running argmin, so the returned frame is the last center's fold
    # projected — row-local over the scan: no join, no window, no
    # sort, and no keyed/range exchange (the selection loop's own
    # 1-row TakeOrdered collects happen before this plan is built and
    # never appear in it).
    p = _executed(ops.QUERIES["ns_kcenter_coreset"](spark, sf_dir))
    bad_nodes = [
        ln.strip() for ln in p.splitlines()
        if _re.search(r"Exchange (hash|range)partitioning", ln)
        or _node(ln) in ("Sort", "Window")
        or "Join" in _node(ln)
    ]
    add("ns_kcenter_coreset",
        "assignment is the selection's running argmin, row-local "
        "(no join/sort/window/keyed exchange, no second corpus pass)",
        not bad_nodes,
        bad_nodes[0] if bad_nodes
        else "project-over-scan only")

    # ns_winnowing_fingerprint (r11): the whole operator is row-local
    # array HOFs in the scan projection — same zero-shuffle contract
    # as ns_embedding_rp (round-robin parallelism repartition is the
    # only allowed Exchange).
    p = _executed(ops.QUERIES["ns_winnowing_fingerprint"](spark, sf_dir))
    bad_nodes = [
        ln.strip() for ln in p.splitlines()
        if _re.search(r"Exchange (hash|range)partitioning", ln)
        or _node(ln) in ("Sort", "Window")
        or "Join" in _node(ln)
    ]
    add("ns_winnowing_fingerprint",
        "row-local winnowing (no keyed exchange/sort/window/join)",
        not bad_nodes,
        bad_nodes[0] if bad_nodes
        else "project-over-scan with RoundRobin repartition only")

    # ns_pmi_collocations (r11): scoring joins run over the bigram
    # AGGREGATE (vocab²-bounded), never the corpus — the corpus-side
    # plan is exactly one hash aggregate above the pair explode, the
    # top-k is TakeOrderedAndProject (no global Sort), and no Window
    # exists anywhere.
    p = _executed(ops.QUERIES["ns_pmi_collocations"](spark, sf_dir))
    has_tops = "TakeOrderedAndProject" in p
    n_windows = sum(_node(ln) == "Window" for ln in p.splitlines())
    add("ns_pmi_collocations",
        "TakeOrderedAndProject top-k, zero Window",
        has_tops and n_windows == 0,
        f"TakeOrdered={has_tops}, windows={n_windows}")

    # ns_token_burstiness (r11): same shape contract as PMI — the
    # top-k is TakeOrderedAndProject (never a global Sort) and no
    # Window exists (the ranking is the limit, not a rank function).
    p = _executed(ops.QUERIES["ns_token_burstiness"](spark, sf_dir))
    has_tops = "TakeOrderedAndProject" in p
    n_windows = sum(_node(ln) == "Window" for ln in p.splitlines())
    add("ns_token_burstiness",
        "TakeOrderedAndProject top-k, zero Window",
        has_tops and n_windows == 0,
        f"TakeOrdered={has_tops}, windows={n_windows}")

    # ns_zipf_fit (r11): the rank window must run over the
    # vocab-bounded token AGGREGATE, never the corpus — exactly one
    # Window node, and a HashAggregate sits BELOW it in the plan text
    # (the corpus collapses before any sort).
    p = _executed(ops.QUERIES["ns_zipf_fit"](spark, sf_dir))
    lines_ = p.splitlines()
    win_idx = [i for i, ln in enumerate(lines_) if _node(ln) == "Window"]
    # executed-plan text prints "HashAggregate(keys=..." (no space
    # before the paren), so match on the node-name prefix
    agg_below = any(
        _node(ln).startswith("HashAggregate")
        for ln in lines_[win_idx[0]:]) if win_idx else False
    add("ns_zipf_fit",
        "ONE rank Window, fed by a HashAggregate (vocab-bounded, "
        "never the corpus)",
        len(win_idx) == 1 and agg_below,
        f"windows={len(win_idx)}, agg_below_window={agg_below}")

    # ns_ngram_novelty (r11): every exchange is keyed on the 8-byte
    # fingerprint or doc_id — no exchange ever carries the shingle
    # STRING (the _h32 shuffle-width contract) — and no Window exists.
    p = _executed(ops.QUERIES["ns_ngram_novelty"](spark, sf_dir))
    n_windows = sum(_node(ln) == "Window" for ln in p.splitlines())
    hashparts = [
        ln.strip() for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    bad_keys = [
        ln for ln in hashparts
        if not ("fp" in ln or "doc_id" in ln)
    ]
    add("ns_ngram_novelty",
        "zero Window; every hash exchange keyed on fp/doc_id (8-byte "
        "hash shuffles, never shingle strings)",
        n_windows == 0 and not bad_keys and hashparts,
        f"windows={n_windows}, exchanges={len(hashparts)}, "
        f"bad={bad_keys[:1]}")

    # ns_embedding_pq (r11): the final encode is ONE row-local
    # projection against literal codewords — zero Window, zero Join,
    # zero hash exchange in the returned plan (training's bounded
    # collects happen before the plan is built).
    p = _executed(ops.QUERIES["ns_embedding_pq"](spark, sf_dir))
    n_windows = sum(_node(ln) == "Window" for ln in p.splitlines())
    n_joins = sum("Join" in _node(ln) for ln in p.splitlines())
    n_hash_ex = sum(
        "Exchange hashpartitioning" in ln for ln in p.splitlines()
    )
    add("ns_embedding_pq",
        "row-local encode: zero Window/Join/hash-Exchange",
        n_windows == 0 and n_joins == 0 and n_hash_ex == 0,
        f"windows={n_windows}, joins={n_joins}, hash_ex={n_hash_ex}")

    # ns_similarity_pq_adc (r11): the per-probe top-k rank must be
    # pushed into WindowGroupLimit (partial top-10 per input
    # partition) so the corpus never piles into |probes| tasks; the
    # scoring itself is join-free (table lookups on literals).
    p = _executed(ops.QUERIES["ns_similarity_pq_adc"](spark, sf_dir))
    has_wgl = "WindowGroupLimit" in p
    n_joins = sum("Join" in _node(ln) for ln in p.splitlines())
    add("ns_similarity_pq_adc",
        "WindowGroupLimit-pushed per-probe top-k; join-free scoring",
        has_wgl and n_joins == 0,
        f"wgl={has_wgl}, joins={n_joins}")

    # ns_host_cap (r11): the rank <= cap filter must push into
    # WindowGroupLimit (partial top-N per input partition before the
    # host exchange) and the sizes join must be broadcast — a hot
    # host never funnels the corpus into one full-sort task.
    p = _executed(ops.QUERIES["ns_host_cap"](spark, sf_dir))
    has_wgl = "WindowGroupLimit" in p
    has_bhj = "BroadcastHashJoin" in p
    add("ns_host_cap",
        "WindowGroupLimit-pushed cap; broadcast sizes join",
        has_wgl and has_bhj,
        f"wgl={has_wgl}, bhj={has_bhj}")

    # ns_similarity_ivfpq (r12): the per-probe top-k must push into
    # WindowGroupLimit, and the probed-cell union prefilter must be
    # a SIMPLE IN-set predicate on cell_id (the scan-pushable shape
    # that prunes cell-partitioned files on a materialized index) —
    # present in the plan BEFORE the ADC projection.
    p = _executed(ops.QUERIES["ns_similarity_ivfpq"](spark, sf_dir))
    has_wgl = "WindowGroupLimit" in p
    has_inset = ("cell_id" in p) and (" IN (" in p or "INSET" in p)
    add("ns_similarity_ivfpq",
        "WindowGroupLimit-pushed per-probe top-k; cell_id IN-set "
        "prefilter gates the ADC scan",
        has_wgl and has_inset,
        f"wgl={has_wgl}, inset={has_inset}")

    # ns_bm25_topk (r12): rank <= 10 pushed into WindowGroupLimit;
    # qmap/df/stats joins broadcast (no corpus-sized shuffle joins);
    # the tf aggregate split partial/final around one exchange.
    p = _executed(ops.QUERIES["ns_bm25_topk"](spark, sf_dir))
    has_wgl = "WindowGroupLimit" in p
    n_bhj = p.count("BroadcastHashJoin")
    n_smj = p.count("SortMergeJoin")
    has_partial = "partial_count" in p
    add("ns_bm25_topk",
        "WindowGroupLimit-pushed top-10; broadcast qmap/df joins "
        "(zero SortMergeJoin); two-phase tf aggregate",
        has_wgl and n_bhj >= 2 and n_smj == 0 and has_partial,
        f"wgl={has_wgl}, bhj={n_bhj}, smj={n_smj}, partial={has_partial}")

    # ns_hybrid_prf (r12): BOTH component rankings' rank gates must
    # push into WindowGroupLimit (the lexical top-10 and the vector
    # top-10 against the literal centroids), plus the fused re-rank's
    # own gate — ≥2 WindowGroupLimit spans in the one plan.
    p = _executed(ops.QUERIES["ns_hybrid_prf"](spark, sf_dir))
    n_wgl = p.count("WindowGroupLimit")
    add("ns_hybrid_prf",
        "WindowGroupLimit pushed for component AND fused rankings",
        n_wgl >= 2,
        f"wgl_spans={n_wgl}")

    # ns_embedding_pca (r12): the RETURNED plan is one row-local fold
    # against literal mu/v — zero Window/Join/hash-Exchange (the
    # iteration passes collect before the plan is built, exactly like
    # ns_embedding_pq's training).
    p = _executed(ops.QUERIES["ns_embedding_pca"](spark, sf_dir))
    n_windows = sum(_node(ln) == "Window" for ln in p.splitlines())
    n_joins = sum("Join" in _node(ln) for ln in p.splitlines())
    n_hash_ex = sum(
        "Exchange hashpartitioning" in ln for ln in p.splitlines()
    )
    add("ns_embedding_pca",
        "row-local pc1 projection: zero Window/Join/hash-Exchange",
        n_windows == 0 and n_joins == 0 and n_hash_ex == 0,
        f"windows={n_windows}, joins={n_joins}, hash_ex={n_hash_ex}")

    # ts_ewma (r12): the sequential recursion must run as Arrow-
    # batched grouped-map (FlatMapGroupsInPandas) over the (type,day)
    # aggregate, and every hash exchange must be keyed on event_type
    # / day aggregation keys — never a corpus-row shuffle key.
    p = _executed(ops.QUERIES["ts_ewma"](spark, sf_dir))
    has_fmg = "FlatMapGroupsInPandas" in p
    hashparts = [
        ln.strip() for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    bad_keys = [ln for ln in hashparts if "event_type" not in ln]
    add("ts_ewma",
        "Arrow grouped-map smoothing; exchanges keyed on event_type",
        has_fmg and hashparts and not bad_keys,
        f"fmg={has_fmg}, exchanges={len(hashparts)}, bad={bad_keys[:1]}")

    # ns_bm25_topk retrieval-chain scale property (r12 verdict #8):
    # the query-vocabulary prefilter must be an ARRAY filter applied
    # BEFORE the token explode — i.e. the array_contains lambda sits
    # BELOW the Generate in the tree (later in the top-down plan
    # text), so only query-term postings ever leave the scan stage.
    p = _executed(ops.QUERIES["ns_bm25_topk"](spark, sf_dir))
    i_gen, i_ac = p.find("Generate explode"), p.find("array_contains")
    add("ns_bm25_topk",
        "query-vocab array filter evaluated below the explode "
        "(pre-explode scan-stage prefilter)",
        i_gen >= 0 and i_ac > i_gen and "lambdafunction" in p,
        f"generate@{i_gen}, array_contains@{i_ac}")

    # ns_hybrid_prf (r12 verdict #8): the fusion must be ZERO-corpus-
    # join — the lexical list is a bounded driver-local frame, so the
    # RETURNED plan scans documents ZERO times and embeddings exactly
    # once (the vector pass); both rankings' gates stay pushed.
    p = _executed(ops.QUERIES["ns_hybrid_prf"](spark, sf_dir))
    n_docs = p.count("documents.parquet")
    n_emb = p.count("embeddings.parquet")
    n_wgl = p.count("WindowGroupLimit")
    add("ns_hybrid_prf",
        "zero-corpus-join fusion: 0 documents scans, 1 embeddings "
        "scan in the returned plan",
        n_docs == 0 and n_emb == 1 and n_wgl >= 2,
        f"docs_scans={n_docs}, emb_scans={n_emb}, wgl={n_wgl}")

    # ns_ann_index_serve (r13): the probed-cell prefilter must reach
    # the persisted index scan as a PARTITION filter on cell_id —
    # whole non-probed directories skipped (the inverted-list read).
    p = _executed(ops.QUERIES["ns_ann_index_serve"](spark, sf_dir))
    seg = ""
    if "PartitionFilters: [" in p:
        seg = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    ok = "cell_id" in seg and " IN " in seg.upper()
    add("ns_ann_index_serve",
        "cell_id IN-set partition filter prunes the persisted index "
        "scan (inverted-list read)",
        ok,
        f"PartitionFilters=[{seg[:120]}]")

    # ns_similarity_ivfpq_residual (r13): same plan contract as the
    # non-residual composed index — WindowGroupLimit-pushed top-k and
    # the scan-pushable cell_id IN-set gate ahead of the ADC scoring.
    p = _executed(
        ops.QUERIES["ns_similarity_ivfpq_residual"](spark, sf_dir)
    )
    has_wgl = "WindowGroupLimit" in p
    has_inset = ("cell_id" in p) and (" IN (" in p or "INSET" in p)
    add("ns_similarity_ivfpq_residual",
        "WindowGroupLimit-pushed per-probe top-k; cell_id IN-set "
        "prefilter gates the residual ADC scan",
        has_wgl and has_inset,
        f"wgl={has_wgl}, inset={has_inset}")

    # join_asof_nearest (r13): the bidirectional nearest join must be
    # ONE user-keyed exchange feeding BOTH window carries (backward
    # last + forward first re-sort without re-shuffling) — never a
    # clicks×purchases join.
    p = _executed(ops.QUERIES["join_asof_nearest"](spark, sf_dir))
    n_ex = sum("Exchange hashpartitioning" in ln for ln in p.splitlines())
    n_join = sum("Join" in _node(ln) for ln in p.splitlines())
    add("join_asof_nearest",
        "one shared user-key exchange, two window carries, zero joins",
        n_ex == 1 and n_join == 0,
        f"hash_exchanges={n_ex}, joins={n_join}")

    # ts_interval_coverage (r13): both gaps-and-islands window passes
    # AND the island aggregate must reuse ONE user_id exchange.
    p = _executed(ops.QUERIES["ts_interval_coverage"](spark, sf_dir))
    n_ex = sum("Exchange hashpartitioning" in ln for ln in p.splitlines())
    add("ts_interval_coverage",
        "interval coalescing rides one shared user_id exchange",
        n_ex == 1,
        f"hash_exchanges={n_ex}")

    # ns_ann_index_refresh (r14 verdict #4): the post-swap serve must
    # read the NEW generation directory (…/g2) AND prune it on a
    # cell_id IN-set PARTITION filter — the inverted-list read holds
    # across generation swaps, not just for the single-index path.
    p = _executed(ops.QUERIES["ns_ann_index_refresh"](spark, sf_dir))
    seg = ""
    if "PartitionFilters: [" in p:
        seg = p.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    ok = ("cell_id" in seg and " IN " in seg.upper()
          and "/g2" in p and "/g1" not in p)
    add("ns_ann_index_refresh",
        "post-swap serve scans ONLY the new generation (g2) directory "
        "with a cell_id IN-set partition filter",
        ok,
        f"g2={'/g2' in p}, g1={'/g1' in p}, "
        f"PartitionFilters=[{seg[:100]}]")

    # ns_dedup_verbatim (r14 verdict #7): candidate generation and the
    # stride-1 verify must both be hash-keyed equi joins — never a
    # nested-loop pair explosion over the corpus.
    p = _executed(ops.QUERIES["ns_dedup_verbatim"](spark, sf_dir))
    bad = ("BroadcastNestedLoopJoin" in p) or ("CartesianProduct" in p)
    n_join = sum("Join" in _node(ln) for ln in p.splitlines())
    add("ns_dedup_verbatim",
        "winnowing candidates + stride-1 gram verify are all "
        "hash-keyed joins (0 BNLJ/cartesian)",
        (not bad) and n_join >= 2,
        f"bnlj_or_cartesian={bad}, joins={n_join}")

    # join_interval_overlap (r14): the overlap predicate must ride an
    # EQUI join on (user, bucket) — the naive interval join shape
    # (BNLJ) is exactly what the bucketing exists to avoid.
    p = _executed(ops.QUERIES["join_interval_overlap"](spark, sf_dir))
    bad = ("BroadcastNestedLoopJoin" in p) or ("CartesianProduct" in p)
    has_bucket_key = "bucket" in p
    add("join_interval_overlap",
        "interval×interval overlap is an equi join on (user, bucket) "
        "(0 BNLJ/cartesian)",
        (not bad) and has_bucket_key,
        f"bnlj_or_cartesian={bad}, bucket_key={has_bucket_key}")

    # ns_hard_negatives (r14): both ranking passes push into
    # WindowGroupLimit (partial per-partition top-k before the
    # |probes|-key exchange).
    p = _executed(ops.QUERIES["ns_hard_negatives"](spark, sf_dir))
    n_wgl = p.count("WindowGroupLimit")
    add("ns_hard_negatives",
        "pool rank and re-rank both push into WindowGroupLimit",
        n_wgl >= 2,
        f"wgl={n_wgl}")

    # graph_pagerank (r14): the edge list must be persisted ONCE and
    # every iteration's join read it from cache — the plan shows one
    # InMemoryTableScan per edge consumption and the raw
    # lineitem/orders scans only inside the cached relation build,
    # and the iteration joins are hash joins, never BNLJ.
    p = _executed(ops.QUERIES["graph_pagerank"](spark, sf_dir))
    n_imts = p.count("InMemoryTableScan")
    bad = ("BroadcastNestedLoopJoin" in p) or ("CartesianProduct" in p)
    add("graph_pagerank",
        "iterations reuse the cached edge list (>=3 InMemoryTableScans)"
        " and all rank joins are hash joins (0 BNLJ/cartesian)",
        n_imts >= 3 and not bad,
        f"imts={n_imts}, bnlj_or_cartesian={bad}")

    # graph_butterfly_count (r14): wedge enumeration must be ONE
    # hash-keyed self-join on cnode — no nested-loop supplier-pair
    # explosion.
    p = _executed(ops.QUERIES["graph_butterfly_count"](spark, sf_dir))
    bad = ("BroadcastNestedLoopJoin" in p) or ("CartesianProduct" in p)
    add("graph_butterfly_count",
        "wedge self-join is hash-keyed on cnode (0 BNLJ/cartesian)",
        not bad and "cnode" in p,
        f"bnlj_or_cartesian={bad}, cnode_key={'cnode' in p}")

    # sink_zorder_interleave (r14): the z-layout readback must reach
    # parquet with the ux predicate pushed (row-group skipping on a
    # NON-leading interleaved dimension is the operator's point).
    p = _executed(ops.QUERIES["sink_zorder_interleave"](spark, sf_dir))
    pushed = ""
    if "PushedFilters: [" in p:
        pushed = p.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    add("sink_zorder_interleave",
        "z-layout readback pushes the ux range predicate to parquet",
        "ux" in pushed,
        f"PushedFilters=[{pushed[:120]}]")

    # ts_xcorr (r14): the lag-aligned pair join must be an equi join
    # on the computed day key with the type inequality as a residual
    # filter — not a nested-loop over the daily frames.
    p = _executed(ops.QUERIES["ts_xcorr"](spark, sf_dir))
    bad = ("BroadcastNestedLoopJoin" in p) or ("CartesianProduct" in p)
    add("ts_xcorr",
        "lag-aligned pair join is equi on the day key "
        "(0 BNLJ/cartesian)",
        not bad,
        f"bnlj_or_cartesian={bad}")

    # ns_verbatim_mask (r14): candidate + gram + anti-join chain all
    # hash-keyed (0 BNLJ/cartesian), and the token re-assembly is a
    # keyed aggregate (SortAggregate/ObjectHashAggregate over
    # doc_id), not a global collect.
    p = _executed(ops.QUERIES["ns_verbatim_mask"](spark, sf_dir))
    bad = ("BroadcastNestedLoopJoin" in p) or ("CartesianProduct" in p)
    n_join = sum("Join" in _node(ln) for ln in p.splitlines())
    add("ns_verbatim_mask",
        "excision chain is hash-keyed end to end (0 BNLJ/cartesian)",
        (not bad) and n_join >= 3,
        f"bnlj_or_cartesian={bad}, joins={n_join}")
    return checks


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # pinned to the setting PLANS.md is committed at, so a regeneration
    # on a machine with another core count diffs only real plan changes
    # (hashpartitioning widths and broadcast sizes follow the cores)
    spark = get_spark(
        app_name="dump-plans", master="local[32]", shuffle_partitions=32
    )
    out_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    lines = [
        "# PLANS — formatted physical plans (headline queries, "
        f"{os.path.basename(sf_dir)})",
        "",
        "Generated by `python scripts/dump_plans.py`. What to check:",
        "`PushedFilters` non-empty on filtered scans; `ReadSchema`",
        "pruned to referenced columns; dims under `BroadcastExchange`;",
        "aggregates split partial/final around one `Exchange`;",
        "`join_bucketed` with zero `Exchange`.",
        "",
    ]
    for name in PLAN_QUERIES:
        df = ops.QUERIES[name](spark, sf_dir)
        plan = _formatted(df)
        lines += [f"## {name}", "", "```", plan.rstrip(), "```", ""]
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}")

    checks = plan_checks(spark, sf_dir)
    check_path = os.path.join(os.path.dirname(out_path), "PLANCHECK.json")
    with open(check_path, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "n_pass": sum(c["pass"] for c in checks),
             "n_total": len(checks), "checks": checks},
            f, indent=2,
        )
    print(f"wrote {check_path}: "
          f"{sum(c['pass'] for c in checks)}/{len(checks)} pass")
    if not all(c["pass"] for c in checks):
        sys.exit(1)


if __name__ == "__main__":
    main()
