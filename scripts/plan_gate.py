"""The plan gate: run every operator, read the final plans it executed
from Spark's SQL execution store, and check them.

Each operator runs once at each scale it is gated at, forced end to
end with the noop sink (as bench.py does). Every SQL execution it
started — build-time collects, each streaming micro-batch and the
writes and collects of foreachBatch bodies, and the final noop write
— is read back with `session.executed_plans`, and its FORMATTED plan
text is parsed in one place (`Plan`): only the `== Final Plan ==`
trees (the adaptive plan that ran) and the detail blocks of their node
ids are kept, so a node is counted once, never again for the initial
plan. Two rule sets read those plans:

- the sweep, over all registered operators at SWEEP_SF: no
  BroadcastNestedLoopJoin/CartesianProduct in any execution unless the
  operator is on ALLOWED with the reason its nested-loop side is
  bounded → PLANSWEEP.json;
- the plan checks, keyed by query, at CHECK_SF: the scale-critical
  properties (pushdown, pruning, broadcast dims, zero-Exchange
  bucketed join, runtime bloom, top-k shapes, ...) of the noop write's
  final plan → PLANCHECK.json, and the masked final plans of the
  headline queries → PLANS.md.

The session runs with `spark.sql.codegen.fallback=false`, so an
operator whose generated code outgrows the JVM's 64 KB method limit
fails the gate instead of running interpreted.

Usage: python scripts/plan_gate.py [name ...]
With no names it runs everything and rewrites the three artifacts;
trailing query names restrict the run to those operators, write
nothing, and print their masked final plans (before/after evidence).
Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import re
import sys
from typing import Callable, NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flume_hive_batched_sink_spark import operators as ops  # noqa: E402
from flume_hive_batched_sink_spark.catalog import DEFAULT_SF_DIR  # noqa: E402
from flume_hive_batched_sink_spark.scratch import SCRATCH  # noqa: E402
from flume_hive_batched_sink_spark.session import (  # noqa: E402
    executed_plans,
    get_spark,
    last_execution_id,
)

# the gated scales, beside the deployment's default test data
DATA = os.path.dirname(DEFAULT_SF_DIR)
SWEEP_SF = os.path.join(DATA, "sf0.01")
# some broadcast choices depend on input size; the plan checks are
# pinned at the scale PLANS.md is committed at
CHECK_SF = os.path.join(DATA, "sf0.1")
# what the plans depend on is pinned by conf, not by slot count, so
# hashpartitioning widths, scan splits and broadcast sizes do not
# follow the machine's core count while its Python workers do; the
# page size (by default heap / slots / 16, less G1's 16-byte array
# header) sizes broadcast hash relations, pinned at its 32-slot value
# for an 8 GB driver
MASTER, PARALLELISM = f"local[{len(os.sched_getaffinity(0))}]", 32
CONF = {
    "spark.sql.codegen.fallback": "false",
    "spark.default.parallelism": str(PARALLELISM),
    "spark.buffer.pageSize": str(8 * 2**20 - 16),
}


# --------------------------------------------------------------------
# parsing: one FORMATTED plan text → its final plan


class GateError(RuntimeError):
    pass


class Node(NamedTuple):
    id: int
    name: str  # the detail header's operator name, e.g. "Scan parquet"
    detail: str


_TREE_ID = re.compile(r" \((\d+)\)")
_DETAIL = re.compile(r"\((\d+)\) (.*)")
_HOST = re.compile(r"Subquery:\d+ Hosting operator id = (\d+) ")
_PREFIX = " :+-"


def _final_tree(lines: list[str]) -> list[str]:
    """Drop every `== Initial Plan ==` subtree with its marker.

    Indentation cannot bound an initial subtree: Spark prints the
    markers of an adaptive plan nested in a cached relation out of
    line, left of the plan, so a later child of an enclosing join can
    sit deeper than the subtree's root. Node ids can: FORMATTED numbers
    an adaptive plan after every node of its final and initial plans,
    and a node printed after the adaptive plan's text (outside it)
    later still. So an initial subtree runs from its marker to the
    first line whose id is above its adaptive plan's."""
    out: list[str] = []
    printing: list[int] = []  # adaptive plans whose final plan is open
    asp = until = None  # the last adaptive plan's id; the drop's bound
    for line in lines:
        body = line.lstrip(_PREFIX)
        node = _TREE_ID.search(line)
        if until is not None and node and int(node.group(1)) > until:
            until = None
        if body.startswith("AdaptiveSparkPlan") and node:
            asp = int(node.group(1))
        elif body in ("== Final Plan ==", "== Current Plan =="):
            printing.append(asp)
        elif body == "== Initial Plan ==":
            if not printing:
                raise GateError("an initial plan with no adaptive plan open")
            top = printing.pop()
            until = top if until is None else max(until, top)
        if until is None and body:
            out.append(line)
    return out


class Plan:
    """The final plan of one execution: `tree` (the final-plan trees,
    subqueries included), `nodes` (each node once, in tree preorder,
    with its detail block) and `text` (tree and details)."""

    def __init__(self, formatted: str) -> None:
        # sections: the main plan, then one per subquery, each a
        # (header, tree lines) pair; detail blocks by node id
        sections: list[tuple[str, list[str]]] = []
        blocks: dict[int, list[str]] = {}
        block: list[str] | None = None
        for line in formatted.splitlines():
            detail = _DETAIL.match(line)
            if line == "== Physical Plan ==" or _HOST.match(line):
                block = []
                sections.append((line, block))
            elif detail:
                block = blocks.setdefault(int(detail.group(1)), [])
                block.append(line)
            elif not line.strip():
                block = None
            elif block is not None:
                block.append(line)
        trees = [(head, _final_tree(lines)) for head, lines in sections]
        # a subquery counts only when the node hosting it is kept; a
        # subquery may host another, so repeat until nothing changes
        kept: set[int] = set()
        chosen: list[int] = []
        grown = True
        while grown:
            grown = False
            for i, (head, tree) in enumerate(trees):
                host = _HOST.match(head)
                if i in chosen or (host and int(host.group(1)) not in kept):
                    continue
                chosen.append(i)
                grown = True
                kept |= {int(m.group(1)) for m in map(_TREE_ID.search, tree) if m}
        self._details = {n: "\n".join(b) for n, b in blocks.items()}
        lines: list[str] = []
        nodes: dict[int, Node] = {}
        for i in chosen:
            head, tree = trees[i]
            lines += (["", head] if i else []) + tree
            for line in tree:
                m = _TREE_ID.search(line)
                if not m or int(m.group(1)) in nodes:
                    continue
                nid = int(m.group(1))
                if nid not in self._details:
                    raise GateError(f"plan node ({nid}) has no detail block")
                detail = self._details[nid]
                name = _DETAIL.match(detail).group(2).split(" [")[0]
                nodes[nid] = Node(nid, name.strip(" *"), detail)
        self.tree = "\n".join(lines)
        self.nodes = list(nodes.values())
        self.text = "\n\n".join(
            [self.tree] + [self._details[n] for n in sorted(nodes)]
        )

    def count(self, name: str) -> int:
        """Nodes whose operator name contains `name`."""
        return sum(name in n.name for n in self.nodes)

    def n(self, name: str) -> int:
        """Nodes whose operator name is `name`."""
        return sum(name == n.name for n in self.nodes)

    def exchanges(self, partitioning: str) -> list[Node]:
        """Exchange nodes partitioned by `partitioning`, a reused
        exchange counting as the one it reuses."""
        out = []
        for n in self.nodes:
            detail = n.detail
            reused = re.search(r"\[Reuses operator id: (\d+)\]", detail)
            if n.name == "ReusedExchange" and reused:
                detail = self._details.get(int(reused.group(1)), "")
            elif n.name != "Exchange":
                continue
            if f"Arguments: {partitioning}" in detail:
                out.append(n)
        return out

    def field(self, key: str) -> str:
        """The first `key: value` detail line's value, in tree order."""
        head = f"{key}: "
        return next((ln[len(head):] for ln in self.lines(head)
                     if ln.startswith(head)), "")

    def lines(self, needle: str, name: str | None = None) -> list[str]:
        """Detail lines containing `needle` (of nodes named `name`), in
        tree order."""
        return [ln for n in self.nodes if name is None or n.name == name
                for ln in n.detail.splitlines() if needle in ln]

    def index(self, test: Callable[[Node], bool]) -> list[int]:
        """Preorder positions of the nodes passing `test`."""
        return [i for i, n in enumerate(self.nodes) if test(n)]


def mask(text: str) -> str:
    """Run-to-run noise out: the counters Spark numbers expressions,
    plans, RDDs, codegen stages and adaptive query stages by, the
    per-process scratch root and the test-data root."""
    text = re.sub(r"#\d+", "#x", text)
    text = re.sub(r"plan_id=\d+", "plan_id=x", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[x]", text)
    text = re.sub(r"\[codegen id : \d+\]", "[codegen id : x]", text)
    text = re.sub(r"(QueryStage\n(?:Output[^\n]*\n)?Arguments: )\d+", r"\1x", text)
    text = text.replace(SCRATCH, "<scratch>")
    return re.sub(re.escape(DATA) + r"/sf[0-9.]+", "<sf>", text)


# --------------------------------------------------------------------
# running one operator


class Run(NamedTuple):
    name: str
    executions: list[tuple[int, str, Plan]]  # (id, description, plan)
    plan: Plan  # the final plan of the noop write of the returned frame


def expression_id_pinner(spark) -> Callable[[int], None]:
    """pin(offset): move Spark's JVM-wide expression-id counter up to
    start + offset, start being the first multiple of 2**40 above the
    ids handed out before the pinner was made (2**40 in any fresh JVM).

    Some plan text follows hash order over expression ids: the Expand
    of a distinct-aggregate rewrite lists its aggregate groups in the
    order of a hash map keyed by their input attributes. The ids a
    query gets depend on every query the JVM planned before it, AQE
    re-plans on other threads included, so that order moves between
    runs. Started at a fixed base, an operator's ids, and that order,
    are the same in every run. The counter (NamedExpression.curId) is
    private: it is read and set through method handles, so the
    AtomicLong never crosses to Python (py4j hands back its value). It
    only moves forward, so no id is handed out twice."""
    jvm = spark._jvm
    mh, cls = jvm.java.lang.invoke, jvm.java.lang.Class.forName
    owner = cls("org.apache.spark.sql.catalyst.expressions.NamedExpression$")
    field = owner.getDeclaredField("curId")
    field.setAccessible(True)
    lookup = mh.MethodHandles.publicLookup()
    counter = lookup.unreflectGetter(field)  # () -> the AtomicLong
    set_long = mh.MethodType.methodType(jvm.java.lang.Void.TYPE, jvm.java.lang.Long.TYPE)
    setter = lookup.findVirtual(cls("java.util.concurrent.atomic.AtomicLong"), "set", set_long)
    set_counter = mh.MethodHandles.collectArguments(setter, 0, counter)
    start = ((counter.invokeWithArguments([]) >> 40) + 1) << 40

    def pin(offset: int) -> None:
        if counter.invokeWithArguments([]) >= start + offset:
            raise GateError(f"expression ids already past {start + offset}")
        set_counter.invokeWithArguments([start + offset])

    return pin


def run_operator(spark, name: str, sf_dir: str, mark: int) -> tuple[Run, int]:
    """Build `name`, force its frame with the noop sink, and read every
    execution with an id above `mark`. Returns the run and the newest
    execution id (the next operator's mark)."""
    df = ops.QUERIES[name](spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    new = sorted(executed_plans(spark, mark))
    # execution ids are one counter per SparkContext (scoped sessions
    # share it); the store keeps only the newest
    # spark.sql.ui.retainedExecutions, so a gap at the front means
    # executions of this operator were evicted before they were read
    if not new or new[0][0] != mark + 1:
        raise GateError(
            f"execution store evicted executions: expected id {mark + 1} "
            f"first, read {new[0][0] if new else 'none'}"
        )
    # the write is the newest root execution: everything after it
    # runs inside it
    write = max(i for i, root, _d, _p in new if i == root)
    executions = [(i, d, Plan(p)) for i, _root, d, p in new]
    run = Run(name, executions, next(p for i, _d, p in executions if i == write))
    return run, new[-1][0]


# --------------------------------------------------------------------
# rule set 1: no data-scaled nested loop (the sweep)

# name -> why a nested-loop/cartesian is legitimate THERE. Every entry
# was adjudicated by reading the executed plan: the nested loop's
# broadcast side is a bounded frame — a 1-row global aggregate or a
# fixed probe/centroid set — so it is O(N·k) with k a constant, the
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
    "ns_bm25_topk": "1-row broadcast corpus-stats scalar (N, total "
    "tokens) crossed onto the query-term tf aggregate for the "
    "idf/length normalizers — never the corpus",
    "ns_ivf_cell_stats": "the shared 64-row broadcast centroid "
    "assignment (the ns_similarity_ann_ivf pattern) plus a 1-row "
    "broadcast total scalar crossed onto the C-row counts frame",
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
    "ns_hybrid_prf": "its lexical BM25 pass (a bounded build-time "
    "collect) carries ns_bm25_topk's 1-row broadcast corpus-stats "
    "scalar (n_docs, total) crossed onto the query-term tf aggregate "
    "— never the corpus",
    "ns_mmr_diversify": "its two bounded build-time collects (the "
    "candidate pool and the pool's pairwise sims) rank through "
    "ns_similarity_topk's corpus x fixed 5-probe broadcast; the "
    "greedy selection runs driver-side over the pool",
    "stream_windowed_topk_state": "1-row broadcast of the final "
    "watermark scalar cross-joined onto the per-window snapshots for "
    "the emission gate (streaming_ops.py final.crossJoin(wm)) — the "
    "join-the-corpus-with-a-scalar pattern; the snapshot side is "
    "|live windows| rows, not the corpus",
}


def sweep_verdict(run: Run) -> dict:
    """Nested loops over every execution's final plan. A stream
    operator must show its micro-batches: an execution described
    `<query name> ... batch = <n>`."""
    if run.name.startswith("stream_") and not any(
        "batch = " in d for _i, d, _p in run.executions
    ):
        raise GateError(
            "no micro-batch executed — the operator started no stream "
            "through stage.run_stream"
        )
    bnlj = sum(p.count("BroadcastNestedLoopJoin") for _i, _d, p in run.executions)
    cart = sum(p.count("CartesianProduct") for _i, _d, p in run.executions)
    return {
        "bnlj": bnlj,
        "cartesian": cart,
        "allowed": run.name in ALLOWED,
        "reason": ALLOWED.get(run.name, ""),
    }


# --------------------------------------------------------------------
# rule set 2: per-query plan properties (PLANCHECK)

PLAN_QUERIES = [
    "scan_pruned", "flagship_pipeline", "agg_multi", "join_multiway",
    "join_bucketed", "join_asof", "win_topk_per_group", "sessionize",
    "ns_dedup_exact", "ns_similarity_topk", "ns_dedup_embedding",
    "ns_dedup_simhash", "ns_similarity_ann_lsh", "ts_resample_ohlc",
    "agg_bitmap_distinct", "ns_dedup_exact_substring", "ns_bigram_stats",
    "win_streaks", "ns_embedding_quantize", "ts_window_funnel",
    "ts_retention_cohort", "unpivot_melt", "ns_vocab_coverage",
    "ts_anomaly_mad", "join_scd2", "ns_tokenize_encode",
    "scan_profile_stats", "ns_blocklist_filter", "ts_cumulative_uniques",
    "join_asof_forward", "agg_histogram_equidepth", "scan_agg_pushdown",
    "ns_similarity_ann_ivf", "sql_exists_subquery", "agg_percentile",
    "win_ntile_dist", "ns_dedup_minhash", "agg_approx_percentile",
    "agg_approx_distinct", "ns_quality_perplexity", "ns_sample_importance",
    "ns_dedup_bloom", "ns_cluster_kmeans", "ns_semdedup",
    "ns_sample_weighted_topk", "ns_quality_entropy",
    "ns_contamination_semantic", "ns_semdedup_components",
    "ns_embedding_rp", "ns_quality_ccnet_buckets", "ns_sample_temperature",
    "ns_kcenter_coreset", "ns_pmi_collocations", "ns_winnowing_fingerprint",
    "ns_zipf_fit", "ns_token_burstiness", "ns_lang_divergence",
    "ns_ngram_novelty", "ns_embedding_pq", "ns_similarity_pq_adc",
    "ns_host_cap", "ns_ocr_noise", "ns_similarity_ivfpq", "ns_bm25_topk",
    "ns_hybrid_prf", "ns_embedding_pca", "ts_ewma",
    "ns_similarity_ivfpq_residual", "ns_ann_index_serve",
    "join_asof_nearest", "ts_interval_coverage", "ns_dedup_fuzzy",
    "ns_ann_index_refresh", "ns_dedup_verbatim", "join_interval_overlap",
    "ns_hard_negatives",
]

# query -> [(property, check)]; a check reads the Run and returns
# (pass, evidence). Unless it says otherwise it reads run.plan, the
# final plan of the returned frame's noop write.
CHECKS: dict[str, list[tuple[str, Callable[[Run], tuple[bool, str]]]]] = {}


def check(query: str, prop: str):
    def add(fn):
        CHECKS.setdefault(query, []).append((prop, fn))
        return fn
    return add


def _has(p: Plan, *names: str) -> dict[str, bool]:
    return {n: p.count(n) > 0 for n in names}


def _joins(p: Plan) -> int:
    return p.count("Join") + p.count("CartesianProduct")


def _nested(p: Plan) -> bool:
    return p.count("BroadcastNestedLoopJoin") + p.count("CartesianProduct") > 0


def _row_local(p: Plan) -> list[str]:
    """Nodes a row-local plan must not have: a keyed or range
    Exchange, a Sort, a Window or a join (round-robin parallelism
    repartitions are allowed)."""
    bad = p.exchanges("hashpartitioning") + p.exchanges("rangepartitioning")
    bad += [n for n in p.nodes if n.name in ("Sort", "Window") or "Join" in n.name]
    return [f"({n.id}) {n.name}" for n in bad]


@check("scan_pruned", "parquet scan has non-empty PushedFilters")
def _(run):
    pushed = run.plan.field("PushedFilters")
    return pushed not in ("", "[]"), f"PushedFilters: {pushed}"


@check("scan_pruned", "ReadSchema pruned to referenced columns")
def _(run):
    rs = run.plan.field("ReadSchema")
    return 0 < rs.count(":") <= 4, f"ReadSchema: {rs}"


@check("scan_dpp_join", "fact scan carries dynamicpruning expression")
def _(run):
    found = run.plan.lines("dynamicpruning")
    return bool(found), found[0] if found else "NOT FOUND"


@check("join_bucketed", "zero Exchange in executed plan")
def _(run):
    n = run.plan.count("Exchange")
    return n == 0, f"{n} Exchange nodes"


@check("join_bucketed", "scans are bucketed")
def _(run):
    scans = [n for n in run.plan.nodes if "Scan parquet" in n.name]
    ok = bool(scans) and all("Bucketed: true" in n.detail for n in scans)
    return ok, f"{len(scans)} scans, all Bucketed: true={ok}"


@check("join_bloom_runtime", "might_contain(bloom) filters fact scan")
def _(run):
    # the operator materializes its join at build time (inside its
    # scoped session), so the bloom filter is in a build execution
    found = [ln for _i, _d, p in run.executions
             for ln in p.lines("might_contain", "Filter")]
    return bool(found), found[0] if found else "NOT FOUND"


@check("scan_static_prune", "scan carries static PartitionFilters")
def _(run):
    pf = run.plan.field("PartitionFilters")
    return pf not in ("", "[]"), f"PartitionFilters: {pf}"


@check("sort_limit_topk", "plans as TakeOrderedAndProject (no global sort)")
def _(run):
    n = run.plan.count("TakeOrderedAndProject")
    return n > 0, f"TakeOrderedAndProject nodes={n}"


@check("join_multiway", "dimension tables broadcast (>=2 BroadcastExchange)")
def _(run):
    n = run.plan.count("BroadcastExchange")
    return n >= 2, f"{n} BroadcastExchange nodes"


@check("ns_dedup_exact_substring",
       "no join operator (posting-list pair generation)")
def _(run):
    n = _joins(run.plan)
    return n == 0, f"{n} join nodes"


@check("win_streaks", "single Exchange for the whole chain")
def _(run):
    # every Exchange (hash, round-robin, range, broadcast) counts
    n = run.plan.count("Exchange")
    return n == 1, f"{n} Exchange nodes (any partitioning)"


@check("ns_embedding_quantize",
       "dim stats broadcast; corpus never shuffle-joined")
def _(run):
    h = _has(run.plan, "BroadcastExchange", "SortMergeJoin", "ShuffledHashJoin")
    return (h["BroadcastExchange"] and not h["SortMergeJoin"]
            and not h["ShuffledHashJoin"]), str(h)


@check("ns_vocab_coverage",
       "top-K is TakeOrderedAndProject (no global sort of the vocab)")
def _(run):
    h = _has(run.plan, "TakeOrderedAndProject")
    return h["TakeOrderedAndProject"], str(h)


@check("unpivot_melt",
       "unpivot plans as row-local Expand (no join/extra shuffle)")
def _(run):
    h = _has(run.plan, "Expand", "Join")
    return h["Expand"] and not h["Join"], str(h)


@check("join_scd2", "dim broadcast hash join, range residual (no BNLJ)")
def _(run):
    h = _has(run.plan, "BroadcastHashJoin", "BroadcastNestedLoopJoin")
    return h["BroadcastHashJoin"] and not h["BroadcastNestedLoopJoin"], str(h)


@check("ns_tokenize_encode",
       "vocab encode join is broadcast (corpus not shuffle-joined)")
def _(run):
    h = _has(run.plan, "BroadcastHashJoin", "SortMergeJoin")
    return h["BroadcastHashJoin"] and not h["SortMergeJoin"], str(h)


@check("scan_profile_stats", "one table scan feeds all per-column aggregates")
def _(run):
    n = run.plan.count("Scan parquet")
    return n == 1, f"{n} parquet scans"


@check("ns_blocklist_filter",
       "row-local screen: no join, no hashpartitioning Exchange")
def _(run):
    n_join, n_hash = _joins(run.plan), len(run.plan.exchanges("hashpartitioning"))
    return n_join == 0 and n_hash == 0, f"joins={n_join}, hash_exchanges={n_hash}"


@check("join_asof_forward",
       "union-timeline plan: no Join operator, one keyed Exchange")
def _(run):
    n_join, n_hash = _joins(run.plan), len(run.plan.exchanges("hashpartitioning"))
    return n_join == 0 and n_hash == 1, f"joins={n_join}, hash_exchanges={n_hash}"


@check("agg_histogram_equidepth",
       "boundary set broadcast; no global Sort of the corpus")
def _(run):
    h = _has(run.plan, "BroadcastExchange", "SortMergeJoin")
    return h["BroadcastExchange"] and not h["SortMergeJoin"], str(h)


@check("scan_agg_pushdown",
       "scan carries PushedAggregation (footer stats, no data pages)")
def _(run):
    agg = run.plan.field("PushedAggregation")
    return bool(agg), f"PushedAggregation: {agg}" if agg else "absent"


@check("ns_similarity_ann_ivf",
       "TakeOrderedAndProject centroid cap + BroadcastExchange assignment")
def _(run):
    h = _has(run.plan, "TakeOrderedAndProject", "BroadcastExchange")
    return all(h.values()), str(h)


@check("agg_percentile",
       "selection ranks on (flag, bucket) partitions; no in-state "
       "percentile aggregate")
def _(run):
    keyed = any("hashpartitioning(fk" in n.detail and ", bk" in n.detail
                for n in run.plan.exchanges("hashpartitioning"))
    pct = "percentile(" in run.plan.text
    return keyed and not pct, (f"fk+bk hashpartitioning={keyed}, "
                               f"percentile-agg={pct}")


@check("sql_exists_subquery",
       "EXISTS/IN plan as semi-joins, NOT EXISTS as anti-join "
       "(no subquery re-execution)")
def _(run):
    p = run.plan
    semi = sum("Join type: LeftSemi" in n.detail for n in p.nodes)
    anti = sum("Join type: LeftAnti" in n.detail for n in p.nodes)
    sub = "Subquery" in p.text
    return semi >= 2 and anti >= 1 and not sub, (
        f"LeftSemi={semi}, LeftAnti={anti}, Subquery-in-plan={sub}")


@check("sink_sorted_layout",
       "row-group event_id ranges are disjoint (skippable layout)")
def _(run):
    # an artifact of the write the operator ran, not a plan node
    import pyarrow.parquet as pq

    root = os.path.join(SCRATCH, "sorted_layout")
    spans = []
    for f in sorted(os.listdir(root)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(root, f)).metadata
        idx = md.schema.to_arrow_schema().names.index("event_id")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            spans.append((st.min, st.max))
    spans.sort()
    disjoint = all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    # neither the count nor the spans go into the evidence: the range
    # partitioner seeds its boundary sample with the RDD id, so they
    # move between runs while the verdict holds
    return len(spans) >= 4 and disjoint, (
        f">=4 row groups={len(spans) >= 4}, disjoint={disjoint}")


@check("win_ntile_dist",
       "rank window partitioned by (group, cell), not the bare "
       "constant-cardinality key")
def _(run):
    wins = run.plan.lines("row_number()", "Window")
    return bool(wins) and any("bk" in ln for ln in wins), (
        wins[0] if wins else "row_number NOT FOUND")


@check("win_ntile_dist", "offset table joins via BroadcastExchange")
def _(run):
    h = _has(run.plan, "BroadcastExchange")
    return h["BroadcastExchange"], str(h)


@check("ns_dedup_minhash",
       "band self-join sides share one cached signature subplan "
       "(ReusedExchange or broadcast of the cached bands)")
def _(run):
    # both band sides read ONE persisted signature frame; joined by a
    # ReusedExchange (sort-merge at scale) or a broadcast of one side
    h = _has(run.plan, "InMemoryTableScan", "ReusedExchange", "BroadcastHashJoin")
    return h["InMemoryTableScan"] and (
        h["ReusedExchange"] or h["BroadcastHashJoin"]), str(h)


@check("agg_approx_percentile",
       "band check is sort-free (no Sort/Window; rank counts only)")
def _(run):
    # the sketch is validated by COUNTING rows below each estimate,
    # never by ranking values
    bad = sorted({n.name for n in run.plan.nodes if n.name in ("Sort", "Window")})
    return not bad, f"forbidden nodes: {bad}"


@check("agg_approx_percentile",
       "sketch estimates broadcast back to the corpus (no shuffle "
       "of lineitem for the band pass)")
def _(run):
    h = _has(run.plan, "BroadcastExchange")
    return h["BroadcastExchange"], str(h)


@check("agg_approx_distinct", "HLL estimate and exact count share one events scan")
def _(run):
    n = run.plan.count("Scan parquet")
    return n == 1, f"{n} parquet scans"


@check("ns_quality_perplexity",
       "bigram derivation is row-local (no Window operator)")
def _(run):
    n = run.plan.count("Window")
    return n == 0, f"{n} Window nodes"


@check("ns_sample_importance",
       "keep threshold via broadcast mean (no global sort/window)")
def _(run):
    p = run.plan
    bad = [n for n in ("Window", "TakeOrdered") if p.count(n)]
    rng = len(p.exchanges("rangepartitioning"))
    return not bad and not rng, f"forbidden nodes: {bad}, range_exchanges={rng}"


@check("ns_dedup_bloom", "filter build is a partial (map-side) bit_or aggregate")
def _(run):
    ok = any(n.name == "HashAggregate" and "partial_bit_or" in n.detail
             for n in run.plan.nodes)
    return ok, f"partial_bit_or HashAggregate={ok}"


@check("ns_dedup_bloom", "probe side joins the word table via BroadcastHashJoin")
def _(run):
    h = _has(run.plan, "BroadcastHashJoin")
    return h["BroadcastHashJoin"], str(h)


@check("ns_cluster_kmeans", "assignment is join-free (row-local kernel)")
def _(run):
    n = _joins(run.plan)
    return n == 0, f"{n} join nodes"


@check("ns_semdedup", "within-cluster pair join is keyed (no nested loop)")
def _(run):
    nested, n = _nested(run.plan), _joins(run.plan)
    return not nested and n > 0, f"joins={n}, bnlj_or_cartesian={nested}"


@check("ns_semdedup_auto",
       "keyed cl pair join; no BNLJ/cartesian (row-local assignment)")
def _(run):
    # an equi join on cl of any kind: planned as a sort-merge join,
    # AQE broadcasts it at run time when the cluster table is small
    p = run.plan
    keyed = [f"({n.id}) {n.name}" for n in p.nodes
             if "Left keys [1]: [cl#" in n.detail
             and "Right keys [1]: [cl#" in n.detail]
    return bool(keyed) and not _nested(p), (
        f"cl-keyed joins={keyed}, bnlj_or_cartesian={_nested(p)}")


@check("ns_bpe_merges",
       "pair counting is generate + hash aggregate only "
       "(no join/window/sort)")
def _(run):
    # every execution of the training loop and of the returned frame:
    # the rounds' pair statistics scan → explode → hash aggregate
    plans = [p for _i, _d, p in run.executions]
    bad = sorted({n.name for p in plans for n in p.nodes
                  if n.name in ("Sort", "Window") or "Join" in n.name
                  or "CartesianProduct" in n.name})
    rounds = sum(p.count("Generate") > 0 and p.count("HashAggregate") > 0
                 for p in plans)
    return not bad and rounds > 0, (
        f"forbidden nodes: {bad}, executions with Generate + "
        f"HashAggregate: {rounds} of {len(plans)}")


@check("ns_sample_weighted_topk",
       "winner selection is TakeOrderedAndProject (no global sort)")
def _(run):
    p = run.plan
    tops, rng = p.count("TakeOrderedAndProject"), len(p.exchanges("rangepartitioning"))
    return tops > 0 and rng == 0, f"TakeOrderedAndProject={tops}, range_exchanges={rng}"


@check("ns_quality_entropy", "pure two-aggregate plan (no Join/Window/Sort)")
def _(run):
    bad = [n for n in ("Join", "Window", "Sort") if run.plan.count(n)]
    return not bad, f"forbidden nodes: {bad}"


@check("ns_contamination_semantic",
       "argmax is a row-local fold over a 1-row broadcast "
       "(no Window/SortAggregate/rangepartitioning)")
def _(run):
    # the corpus x |eval| frame never exists: one broadcast BNLJ onto
    # the 1-row eval array, the argmax a HOF fold in the projection
    p = run.plan
    bad = [n for n in ("Window", "SortAggregate") if p.count(n)]
    rng = len(p.exchanges("rangepartitioning"))
    bnlj = p.count("BroadcastNestedLoopJoin")
    return not bad and not rng and bnlj > 0, (
        f"forbidden: {bad}, range_exchanges={rng}, bnlj={bnlj}")


@check("ns_semdedup_components",
       "keyed pair join + checkpointed fixpoint labels (no BNLJ/"
       "cartesian)")
def _(run):
    nested, n = _nested(run.plan), _joins(run.plan)
    return not nested and n > 0, f"joins={n}, bnlj_or_cartesian={nested}"


@check("ns_embedding_rp",
       "scan-side row-local folds only (no keyed exchange/sort/"
       "window/join; round-robin parallelism repartition allowed)")
def _(run):
    bad = _row_local(run.plan)
    return not bad, bad[0] if bad else "row-local nodes only"


@check("ns_quality_ccnet_buckets",
       "both Windows rank the bounded hash sample (above the nibble "
       "Filter) + broadcast cutoff routing join")
def _(run):
    # both cutoff-training Windows sit above the md5-nibble sample
    # Filter in the tree, so they rank the sample, never the corpus
    p = run.plan
    wins = p.index(lambda n: n.name == "Window")
    nibs = p.index(lambda n: n.name == "Filter" and "conv(substring(md5" in n.detail)
    bhj = p.count("BroadcastHashJoin") > 0
    return (len(wins) == 2 and bool(nibs) and max(wins) < min(nibs) and bhj), (
        f"windows@{wins}, nibble-filter@{nibs}, bcast-join={bhj}")


@check("ns_sample_temperature",
       "count-frame exchange reused at runtime (one corpus scan); "
       "all scans pruned to lang")
def _(run):
    p = run.plan
    reused = p.count("ReusedExchange") + p.count("ReusedQueryStage")
    schemas = sorted({ln[len("ReadSchema: "):] for ln in p.lines("ReadSchema: ")})
    ident = "IdentityBroadcastMode" in p.text
    return (reused >= 2 and schemas == ["struct<lang:string>"] and ident), (
        f"reused={reused}, schemas={schemas}, identity-broadcast={ident}")


@check("ns_kcenter_coreset",
       "assignment is the selection's running argmin, row-local "
       "(no join/sort/window/keyed exchange, no second corpus pass)")
def _(run):
    bad = _row_local(run.plan)
    return not bad, bad[0] if bad else "row-local nodes only"


@check("ns_winnowing_fingerprint",
       "row-local winnowing (no keyed exchange/sort/window/join)")
def _(run):
    bad = _row_local(run.plan)
    return not bad, bad[0] if bad else "row-local nodes only"


@check("ns_pmi_collocations", "TakeOrderedAndProject top-k, zero Window")
def _(run):
    tops, wins = run.plan.count("TakeOrderedAndProject"), run.plan.n("Window")
    return tops > 0 and wins == 0, f"TakeOrdered={tops}, windows={wins}"


@check("ns_token_burstiness", "TakeOrderedAndProject top-k, zero Window")
def _(run):
    tops, wins = run.plan.count("TakeOrderedAndProject"), run.plan.n("Window")
    return tops > 0 and wins == 0, f"TakeOrdered={tops}, windows={wins}"


@check("ns_zipf_fit",
       "ONE rank Window, fed by a HashAggregate (vocab-bounded, "
       "never the corpus)")
def _(run):
    p = run.plan
    wins = p.index(lambda n: n.name == "Window")
    aggs = p.index(lambda n: n.name == "HashAggregate")
    below = bool(wins) and any(i > wins[0] for i in aggs)
    return len(wins) == 1 and below, (
        f"windows={len(wins)}, agg_below_window={below}")


@check("ns_ngram_novelty",
       "zero Window; every hash exchange keyed on fp/doc_id (8-byte "
       "hash shuffles, never shingle strings)")
def _(run):
    p = run.plan
    hashed = p.exchanges("hashpartitioning")
    bad = [n.id for n in hashed if "fp" not in n.detail and "doc_id" not in n.detail]
    wins = p.n("Window")
    return wins == 0 and bool(hashed) and not bad, (
        f"windows={wins}, exchanges={len(hashed)}, bad={bad}")


@check("ns_embedding_pq", "row-local encode: zero Window/Join/hash-Exchange")
def _(run):
    p = run.plan
    w, j, h = p.n("Window"), _joins(p), len(p.exchanges("hashpartitioning"))
    return w == j == h == 0, f"windows={w}, joins={j}, hash_ex={h}"


@check("ns_similarity_pq_adc",
       "WindowGroupLimit-pushed per-probe top-k; join-free scoring")
def _(run):
    wgl, j = run.plan.count("WindowGroupLimit"), _joins(run.plan)
    return wgl > 0 and j == 0, f"wgl={wgl}, joins={j}"


@check("ns_host_cap", "WindowGroupLimit-pushed cap; broadcast sizes join")
def _(run):
    h = _has(run.plan, "WindowGroupLimit", "BroadcastHashJoin")
    return all(h.values()), str(h)


def _inset(p: Plan) -> bool:
    return "cell_id" in p.text and (" IN (" in p.text or "INSET" in p.text)


@check("ns_similarity_ivfpq",
       "WindowGroupLimit-pushed per-probe top-k; cell_id IN-set "
       "prefilter gates the ADC scan")
def _(run):
    wgl, inset = run.plan.count("WindowGroupLimit"), _inset(run.plan)
    return wgl > 0 and inset, f"wgl={wgl}, inset={inset}"


@check("ns_bm25_topk",
       "WindowGroupLimit-pushed top-10; broadcast qmap/df joins "
       "(zero SortMergeJoin); two-phase tf aggregate")
def _(run):
    p = run.plan
    wgl, bhj, smj = (p.count("WindowGroupLimit"), p.count("BroadcastHashJoin"),
                     p.count("SortMergeJoin"))
    partial = "partial_count" in p.text
    return wgl > 0 and bhj >= 2 and smj == 0 and partial, (
        f"wgl={wgl}, bhj={bhj}, smj={smj}, partial={partial}")


@check("ns_hybrid_prf", "WindowGroupLimit pushed for component AND fused rankings")
def _(run):
    n = run.plan.count("WindowGroupLimit")
    return n >= 2, f"wgl_nodes={n}"


@check("ns_embedding_pca", "row-local pc1 projection: zero Window/Join/hash-Exchange")
def _(run):
    p = run.plan
    w, j, h = p.n("Window"), _joins(p), len(p.exchanges("hashpartitioning"))
    return w == j == h == 0, f"windows={w}, joins={j}, hash_ex={h}"


@check("ts_ewma", "Arrow grouped-map smoothing; exchanges keyed on event_type")
def _(run):
    p = run.plan
    fmg = p.count("FlatMapGroupsInPandas")
    hashed = p.exchanges("hashpartitioning")
    bad = [n.id for n in hashed if "event_type" not in n.detail]
    return fmg > 0 and bool(hashed) and not bad, (
        f"fmg={fmg}, exchanges={len(hashed)}, bad={bad}")


@check("ns_bm25_topk",
       "query-vocab array filter evaluated below the explode "
       "(pre-explode scan-stage prefilter)")
def _(run):
    # the array_contains lambda sits BELOW the Generate in the tree,
    # so only query-term postings leave the scan stage
    p = run.plan
    gen = p.index(lambda n: n.name == "Generate" and "explode" in n.detail)
    ac = p.index(lambda n: "array_contains" in n.detail)
    lam = "lambdafunction" in p.text
    return bool(gen) and bool(ac) and ac[0] > gen[0] and lam, (
        f"generate@{gen[:1]}, array_contains@{ac[:1]}, lambda={lam}")


@check("ns_hybrid_prf",
       "zero-corpus-join fusion: 0 documents scans, 1 embeddings "
       "scan in the returned plan")
def _(run):
    p = run.plan
    scans = [n for n in p.nodes if "Scan parquet" in n.name]
    docs = sum("documents.parquet" in n.detail for n in scans)
    emb = sum("embeddings.parquet" in n.detail for n in scans)
    wgl = p.count("WindowGroupLimit")
    return docs == 0 and emb == 1 and wgl >= 2, (
        f"docs_scans={docs}, emb_scans={emb}, wgl={wgl}")


def _cell_partition_filter(p: Plan) -> tuple[bool, str]:
    pf = p.field("PartitionFilters")
    return "cell_id" in pf and " IN " in pf.upper(), pf[:120]


@check("ns_ann_index_serve",
       "cell_id IN-set partition filter prunes the persisted index "
       "scan (inverted-list read)")
def _(run):
    ok, pf = _cell_partition_filter(run.plan)
    return ok, f"PartitionFilters: {pf}"


@check("ns_similarity_ivfpq_residual",
       "WindowGroupLimit-pushed per-probe top-k; cell_id IN-set "
       "prefilter gates the residual ADC scan")
def _(run):
    wgl, inset = run.plan.count("WindowGroupLimit"), _inset(run.plan)
    return wgl > 0 and inset, f"wgl={wgl}, inset={inset}"


@check("join_asof_nearest",
       "one shared user-key exchange, two window carries, zero joins")
def _(run):
    h, j = len(run.plan.exchanges("hashpartitioning")), _joins(run.plan)
    return h == 1 and j == 0, f"hash_exchanges={h}, joins={j}"


@check("ts_interval_coverage",
       "interval coalescing rides one shared user_id exchange")
def _(run):
    h = len(run.plan.exchanges("hashpartitioning"))
    return h == 1, f"hash_exchanges={h}"


@check("ns_ann_index_refresh",
       "post-swap serve scans ONLY the new generation (g2) directory "
       "with a cell_id IN-set partition filter")
def _(run):
    ok, pf = _cell_partition_filter(run.plan)
    g2, g1 = "/g2" in run.plan.text, "/g1" in run.plan.text
    return ok and g2 and not g1, f"g2={g2}, g1={g1}, PartitionFilters: {pf[:100]}"


@check("ns_dedup_verbatim",
       "winnowing candidates + stride-1 gram verify are all "
       "hash-keyed joins (0 BNLJ/cartesian)")
def _(run):
    nested, n = _nested(run.plan), _joins(run.plan)
    return not nested and n >= 2, f"bnlj_or_cartesian={nested}, joins={n}"


@check("join_interval_overlap",
       "interval×interval overlap is an equi join on (user, bucket) "
       "(0 BNLJ/cartesian)")
def _(run):
    nested, key = _nested(run.plan), "bucket" in run.plan.text
    return not nested and key, f"bnlj_or_cartesian={nested}, bucket_key={key}"


@check("ns_hard_negatives", "pool rank and re-rank both push into WindowGroupLimit")
def _(run):
    n = run.plan.count("WindowGroupLimit")
    return n >= 2, f"wgl={n}"


@check("graph_pagerank",
       "iterations reuse the cached edge list (>=3 InMemoryTableScans)"
       " and all rank joins are hash joins (0 BNLJ/cartesian)")
def _(run):
    n, nested = run.plan.count("InMemoryTableScan"), _nested(run.plan)
    return n >= 3 and not nested, f"imts={n}, bnlj_or_cartesian={nested}"


@check("graph_butterfly_count",
       "wedge self-join is hash-keyed on cnode (0 BNLJ/cartesian)")
def _(run):
    nested, key = _nested(run.plan), "cnode" in run.plan.text
    return not nested and key, f"bnlj_or_cartesian={nested}, cnode_key={key}"


@check("sink_zorder_interleave",
       "z-layout readback pushes the ux range predicate to parquet")
def _(run):
    pushed = run.plan.field("PushedFilters")
    return "ux" in pushed, f"PushedFilters: {pushed[:120]}"


@check("ts_xcorr", "lag-aligned pair join is equi on the day key (0 BNLJ/cartesian)")
def _(run):
    nested = _nested(run.plan)
    return not nested, f"bnlj_or_cartesian={nested}"


@check("ns_verbatim_mask",
       "excision chain is hash-keyed end to end (0 BNLJ/cartesian)")
def _(run):
    nested, n = _nested(run.plan), _joins(run.plan)
    return not nested and n >= 3, f"bnlj_or_cartesian={nested}, joins={n}"


def plan_checks(run: Run) -> list[dict]:
    out = []
    for prop, fn in CHECKS.get(run.name, []):
        ok, evidence = fn(run)
        out.append({"query": run.name, "property": prop, "pass": bool(ok),
                    "evidence": mask(evidence)[:300]})
    return out


# --------------------------------------------------------------------
# the gate


def _write(name: str, text: str) -> None:
    with open(os.path.join(ROOT, name), "w") as f:
        f.write(text)
    print(f"wrote {name}", flush=True)


def main(names: list[str]) -> int:
    unknown = sorted(set(names) - set(ops.QUERIES))
    if unknown:
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="plan-gate", master=MASTER,
                      shuffle_partitions=PARALLELISM, extra_conf=CONF)
    mark = last_execution_id(spark)

    def attempt(name: str, sf_dir: str, judge: Callable[[Run], object]):
        """judge(run) for one run of `name`, or the error text."""
        nonlocal mark
        try:
            run, mark = run_operator(spark, name, sf_dir, mark)
            out = judge(run)
        except Exception as exc:  # one failing operator fails the gate
            # executions the failed run started belong to no later one
            mark = last_execution_id(spark)
            print(f"{name:32s} ERROR {str(exc)[:200]}", flush=True)
            return str(exc)[:200]
        for k, (_i, _d, p) in enumerate(run.executions if names else [], 1):
            print(f"## {name} · {os.path.basename(sf_dir)} · execution {k} "
                  f"of {len(run.executions)}\n\n{mask(p.text)}\n", flush=True)
        return out

    # the sweep: every operator at SWEEP_SF
    sweep: dict[str, dict] = {}
    for name in names or list(ops.QUERIES):
        v = attempt(name, SWEEP_SF, sweep_verdict)
        if isinstance(v, str):
            sweep[name] = {"error": v}
            continue
        sweep[name] = v
        hit = v["bnlj"] + v["cartesian"] > 0
        verdict = "ALLOWED" if hit and v["allowed"] else ("BAD" if hit else "ok")
        print(f"{name:32s} bnlj={v['bnlj']} cart={v['cartesian']} {verdict}",
              flush=True)
    hits = {n for n, v in sweep.items() if v.get("bnlj") or v.get("cartesian")}
    unallowed = sorted(hits - set(ALLOWED))
    errors = sorted(n for n, v in sweep.items() if "error" in v)
    # an allowlist entry that no longer hits is stale: a regression
    # must not hide under a reason written for a plan that is gone
    stale = sorted(set(ALLOWED) - hits) if not names else []

    # plan checks and PLANS.md: the checked queries at CHECK_SF
    checked = PLAN_QUERIES + [q for q in CHECKS if q not in PLAN_QUERIES]
    checks: list[dict] = []
    plans: dict[str, str] = {}
    # a checked query that fails to run fails the gate, checks or not
    run_errors: dict[str, str] = {}
    # a block of 2**32 expression ids per query, at the same place in
    # every run of the same names (what ran before a query still moves
    # ids inside its block, so a restricted run can print another
    # order than a full run)
    pin = expression_id_pinner(spark)
    for name in [q for q in checked if not names or q in names]:
        pin(checked.index(name) << 32)
        r = attempt(name, CHECK_SF, lambda run: (mask(run.plan.text), plan_checks(run)))
        if isinstance(r, str):
            run_errors[name] = mask(r)
            checks += [{"query": name, "property": prop, "pass": False,
                        "evidence": mask(r)} for prop, _ in CHECKS.get(name, [])]
            continue
        plans[name], found = r
        checks += found
        for c in found:
            print(f"{name:32s} {'PASS' if c['pass'] else 'FAIL'} "
                  f"{c['property'][:60]}", flush=True)
    order = {q: i for i, q in enumerate(CHECKS)}
    checks.sort(key=lambda c: order[c["query"]])
    n_pass = sum(c["pass"] for c in checks)

    if not names:
        _write("PLANSWEEP.json", json.dumps({
            "sf_dir": SWEEP_SF,
            "n_swept": len(sweep) - len(errors),
            "unallowed": unallowed,
            "build_errors": errors,
            "stale_allowlist": stale,
            "queries": sweep,
        }, indent=1, sort_keys=True))
        _write("PLANCHECK.json", json.dumps({
            "sf_dir": CHECK_SF, "n_pass": n_pass, "n_total": len(checks),
            "run_errors": run_errors, "checks": checks,
        }, indent=2))
        lines = [
            f"# PLANS — executed final plans (headline queries, "
            f"{os.path.basename(CHECK_SF)})",
            "",
            "Generated by `python scripts/plan_gate.py`: the final plan",
            "of each query's noop write, read from Spark's SQL execution",
            "store (parallelism and shuffle partitions 32), with expression",
            "ids (`#x`), `plan_id`s and data paths masked. What to check:",
            "`PushedFilters` non-empty on filtered scans; `ReadSchema`",
            "pruned to referenced columns; dims under `BroadcastExchange`;",
            "aggregates split partial/final around one `Exchange`;",
            "`join_bucketed` with zero `Exchange`.",
            "",
        ]
        for name in PLAN_QUERIES:
            lines += [f"## {name}", "", "```",
                      plans.get(name, "(failed: see run_errors in PLANCHECK.json)"), "```", ""]
        _write("PLANS.md", "\n".join(lines))
    print(f"sweep: {len(sweep) - len(errors)} swept, "
          f"unallowed={unallowed}, build_errors={errors}, "
          f"stale_allowlist={stale}; plan checks: {n_pass}/{len(checks)} pass, "
          f"run_errors={sorted(run_errors)}", flush=True)
    failed = errors or unallowed or stale or run_errors or n_pass < len(checks)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
