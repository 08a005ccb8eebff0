"""[NS] — embedding-space clustering curation (r9).

- `ns_cluster_kmeans`: fixed-iteration Lloyd's k-means over the
  embedding corpus — the clustering pass behind SemDeDup, IVF index
  training, and corpus cartography. Deterministic end to end: init
  centroids are the k smallest vec_ids, every distance is a LEFT-FOLD
  double chain (codegen'd in Spark, replayed bit-exactly by DuckDB
  `list_reduce` — the ns_similarity_ann_ivf precedent), per-cluster
  means are exact-decimal sums divided once in double. The oracle
  replays both iterations in SQL.
- `ns_semdedup`: SemDeDup (Abbas et al. 2023) — within each k-means
  cluster, cosine >= tau pairs mark the higher vec_id a duplicate;
  one representative per near-dup neighborhood survives. Reuses the
  SAME kmeans assignment (shared fragment on both engines, so the
  eval can't drift from the clustering).

Iterative-algorithm shape on Spark: each Lloyd iteration is ONE
corpus scan (row-local vectorized assignment against the k collected
centroids — no join, no shuffle) + ONE k-row aggregate; the k x 64
means make a bounded driver collect (the MLlib pattern). At 100 TB, k
scales with the corpus (SemDeDup uses cell-bounded k ~ n/1000) and
the only shuffles stay k-keyed; k is pinned here (like
similarity._IVF_MAX_CELLS) so the oracle geometry is fixed while
cells grow linearly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import min_label_components
from .registry import dlit_sql, dsum, local_frame, query, sql_dsum, tbl
from .similarity import _dot_dbl

_KM_K = 8  # clusters (fixed oracle geometry; production scales with n)
_KM_DIM = 64
# SemDeDup cosine threshold — matches similarity._DEDUP_TAU: the test
# corpus is near-orthogonal random vectors (max corpus cosine ~0.5),
# so the production-style 0.95 bar would select nothing; 0.40 keeps
# the operator's selection logic exercised at every SF.
_SEM_TAU = 0.40

# ---- shared SQL fragment: 2-iteration Lloyd over `embeddings` ----
# Left-fold double distances via list_reduce(ORDER BY i) — identical
# to Spark's unrolled left-associated chain; per-dim means via
# VARCHAR-routed exact-decimal sums (the ns_embedding_profile cast
# rule) divided once in double.

_SQL_SQDIFF = (
    "(CAST({e}[i.i] AS DOUBLE) - CAST({c}[i.i] AS DOUBLE))"
    " * (CAST({e}[i.i] AS DOUBLE) - CAST({c}[i.i] AS DOUBLE))"
)


def _km_sql_prefix(k_expr: str) -> str:
    """The 2-iteration Lloyd CTE chain with the cluster count left as
    a SQL expression — `{_KM_K}` for the pinned-geometry operators, a
    count(*)-derived scalar subquery for ns_semdedup_auto (the
    ns_dedup_bloom m_bits precedent: geometry DERIVED inside the
    oracle, so the derivation itself is hash-gated)."""
    return f"""
    idx AS (SELECT unnest(range(1, {_KM_DIM + 1})) AS i),
    c0 AS (
      SELECT j, c FROM (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
               embedding AS c
        FROM embeddings
      ) WHERE j < {k_expr}
    ),
    kd1 AS (
      SELECT e.vec_id, c.j,
             list_reduce(
               list({_SQL_SQDIFF.format(e="e.embedding", c="c.c")}
                    ORDER BY i.i),
               (a, b) -> a + b) AS d2
      FROM embeddings e CROSS JOIN c0 c CROSS JOIN idx i
      GROUP BY e.vec_id, c.j
    ),
    ka1 AS (
      SELECT vec_id, j AS cl FROM (
        SELECT vec_id, j,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, j) AS rn
        FROM kd1) WHERE rn = 1
    ),
    km1 AS (
      SELECT a.cl, i.i AS dim,
             CAST(SUM(CAST(CAST(CAST(e.embedding[i.i] AS DOUBLE)
                                AS VARCHAR) AS DECIMAL(28,12)))
                  AS DOUBLE) / COUNT(*) AS mu
      FROM ka1 a JOIN embeddings e ON a.vec_id = e.vec_id
      CROSS JOIN idx i
      GROUP BY 1, 2
    ),
    kc1 AS (SELECT cl AS j, list(mu ORDER BY dim) AS c FROM km1 GROUP BY cl),
    kd2 AS (
      SELECT e.vec_id, c.j,
             list_reduce(
               list({_SQL_SQDIFF.format(e="e.embedding", c="c.c")}
                    ORDER BY i.i),
               (a, b) -> a + b) AS d2
      FROM embeddings e CROSS JOIN kc1 c CROSS JOIN idx i
      GROUP BY e.vec_id, c.j
    ),
    ka2 AS (
      SELECT vec_id, cl, d2 FROM (
        SELECT vec_id, j AS cl, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, j) AS rn
        FROM kd2) WHERE rn = 1
    )"""


_KM_SQL_PREFIX = _km_sql_prefix(str(_KM_K))

# Registered auto-geometry: k derived from the corpus count with
# cells pinned small enough (32) that the derivation is NON-TRIVIAL
# at the sf0.01 gate (k=15 there vs the fixed 8 — a broken derivation
# cannot hide behind the fallback max). Production default stays
# auto_k's target_cell=256 (SemDeDup's n/cell sizing); both are the
# same code path, only the cell target differs.
_AUTO_CELL = 32
_AUTO_K_SQL = (
    f"(SELECT greatest({_KM_K}, count(*) // {_AUTO_CELL}) FROM embeddings)"
)


def _sqdiff_chain_sql(x_sql: str, cvals: list[float]) -> str:
    """SQL text of the left-fold squared euclidean distance of an
    array column against literal centroid coordinates: a
    zip_with/aggregate HOF — left-associated double adds,
    bit-identical to the oracle's list_reduce fold (the 0.0 seed is
    exact: squared diffs are never -0.0, so 0.0 + t1 == t1 bitwise).
    HOF over an unrolled chain is the measured _dot_dec tradeoff: k=8
    unrolled 64-term projections blew Janino compile to ~15 s PER PLAN
    at any corpus size, while the interpreted fold costs ~nothing to
    plan and its per-row penalty is bounded by k*dim. Degenerate
    inputs: an x SHORTER than the centroid width poisons to NULL
    (NULL-padded zip element); LONGER x is out of schema contract
    (FIXTURES.md pins 64).

    Callers parse it with ONE expr() call instead of assembling the
    tree Column-by-Column over py4j. Profiling showed DataFrame
    CONSTRUCTION, not execution, dominating the PQ/kmeans family at
    sf0.1 (e.g. ns_similarity_ivfpq: 8.0 s build vs 1.4 s exec;
    pq_train's argmin projection alone cost 1.6 s of py4j chatter
    per call)."""
    lits = ", ".join(dlit_sql(v) for v in cvals)
    return (
        f"aggregate(zip_with({x_sql}, array({lits}), "
        f"(a, b) -> (cast(a as double) - b) * (cast(a as double) - b)), "
        f"cast('0.0' as double), (acc, p) -> acc + p)"
    )


def _assign(em: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment (vec_id, embedding, cl, d2) as ONE
    mapInArrow pass (guide §4.2: hand whole batches to vectorized
    native code) — the engine's one flat nearest-centroid kernel.
    NumPy computes all k squared-difference folds per batch; zero
    shuffle, and no k·dim-literal SQL string in the plan. Measured
    2.5-4.5x faster than the broadcast-join form it replaced at every
    geometry from n=500/k=15 to n=20k/k=625 (SCALING.md).

    Bit-parity with the oracle's `ORDER BY d2, j` over list_reduce
    distances, term by term: (a) the per-element work is
    cast-to-double, subtract, square — exact IEEE ops NumPy evaluates
    identically; (b) the fold is accumulated with an explicit dim-step
    loop (one vectorized `acc += t*t` per dimension), i.e. the SAME
    left-associated double addition chain — never np.sum, whose
    pairwise summation reorders low bits; (c) ties break to the
    smallest centroid id because the centroid rows are sorted by id.
    Degenerate input follows the same order: a NaN distance ranks
    after every number (inf included), and a row whose distance is
    NULL — a NULL embedding, an inner NULL element, or a length other
    than the centroid width — gets the smallest centroid id with
    d2 = NULL. Parity is tested against DuckDB on those rows.

    Memory: batches are processed in row CHUNKS so the chunk × k
    accumulator (and its one scratch twin) stays ~32 MB (4M doubles)
    regardless of Arrow batch size; dim is never materialised."""
    pairs = sorted(
        ((int(j), [float(v) for v in c]) for j, c in cents),
        key=lambda t: t[0],
    )
    jarr = np.array([j for j, _ in pairs], dtype=np.int64)
    carr = np.array([c for _, c in pairs], dtype=np.float64)
    vt = em.schema["vec_id"].dataType.simpleString()
    et = em.schema["embedding"].dataType.elementType.simpleString()
    k, dim = carr.shape
    chunk = max(1, (4 << 20) // k)

    def fn(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in it:
            n = len(b)
            if n == 0:
                continue
            emb = b.column(1)
            flat = emb.flatten()
            vals = np.asarray(
                flat.to_numpy(zero_copy_only=False), dtype=np.float64
            )
            # rows with a NULL distance: NULL list, wrong length, or
            # an inner NULL (to_numpy turned those into NaN above)
            ok = pc.list_value_length(emb).fill_null(-1).to_numpy() == dim
            if ok.all() and not flat.null_count:
                x, mask = vals.reshape(n, dim), None
            else:
                owner = pc.list_parent_indices(emb).to_numpy()
                if flat.null_count:
                    inner = flat.is_null().to_numpy(zero_copy_only=False)
                    ok[owner[inner]] = False
                x, mask = np.zeros((n, dim)), ~ok
                x[ok] = vals[ok[owner]].reshape(-1, dim)
            cls = np.empty(n, dtype=np.int64)
            dmin = np.empty(n, dtype=np.float64)
            for lo in range(0, n, chunk):
                xs = x[lo:lo + chunk]
                acc = np.zeros((xs.shape[0], k))
                t = np.empty_like(acc)
                for i in range(dim):  # left-assoc fold, per dim
                    np.subtract(xs[:, None, i], carr[None, :, i], out=t)
                    t *= t
                    acc += t
                a = acc.argmin(axis=1)
                nan = np.isnan(acc)
                if nan.any():  # argmin stops at the first NaN
                    best = np.where(nan, np.inf, acc).min(axis=1)
                    a = (acc == best[:, None]).argmax(axis=1)
                cls[lo:lo + chunk] = jarr[a]
                dmin[lo:lo + chunk] = acc[np.arange(xs.shape[0]), a]
            if mask is not None:
                cls[mask] = jarr[0]
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    emb,
                    pa.array(cls, type=pa.int32()),
                    pa.array(dmin, type=pa.float64(), mask=mask),
                ],
                names=["vec_id", "embedding", "cl", "d2"],
            )

    return em.select("vec_id", "embedding").mapInArrow(
        fn, f"vec_id {vt}, embedding array<{et}>, cl int, d2 double"
    )


def auto_k(n: int, target_cell: int = 256) -> int:
    """Corpus-sized cluster count for the at-scale path (the
    auto_planes_per_band treatment): k grows with n so cells stay
    ~target_cell and SemDeDup's within-cell pair work stays LINEAR in
    the corpus (n/k cells of ~target_cell ⇒ pairs ≈ n·target_cell/2).
    The registered operators pin k=_KM_K so the oracle geometry is
    fixed; scale runs pass k=auto_k(n)."""
    return max(_KM_K, n // target_cell)


def kmeans_assign(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KM_K,
) -> DataFrame:
    """Shared 2-iteration Lloyd assignment (vec_id, embedding, cl,
    d2) used by ns_cluster_kmeans and ns_semdedup. Two bounded driver
    collects: the k init rows and the k x 64 iteration-1 means (the
    classic driver-coordinated Lloyd loop — MLlib's shape; each
    iteration is one corpus scan through the _assign kernel, exact at
    every k)."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    init = em.orderBy("vec_id").limit(k).collect()
    cents0 = [
        (j, [float(v) for v in row.embedding])
        for j, row in enumerate(init)
    ]
    a1 = _assign(em, cents0)
    # Iteration-1 means via posexplode + ONE (cl, dim)-keyed decimal
    # sum instead of a 64-column wide aggregate: measured 2× faster
    # (0.92 s vs 1.88 s at sf0.1 — the wide HashAggregate's 65 agg
    # buffers cost ~1.4 s over the same fold; guide §1.2 per-task
    # work, the _pq_train exr shape). Bit-identical: decimal(28,12)
    # adds are exact and order-free, so the per-(cl,dim) SUM carries
    # the same addend multiset as the per-column SUM; the mean is the
    # same double/double division (s cast to double, n cast to
    # double) both engines already evaluate.
    mu = (
        a1.select("cl", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("cl", "dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("double").cast("decimal(28,12)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    )
    by_cl: dict[int, list] = {}
    for r in mu:
        by_cl.setdefault(r.cl, [None] * _KM_DIM)[r.dim] = float(r.s) / float(
            r.n
        )
    cents1 = [(cl, vals) for cl, vals in sorted(by_cl.items())]
    return _assign(em, cents1)


@query(
    "ns_cluster_kmeans",
    f"""
    WITH {_KM_SQL_PREFIX}
    SELECT cl AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           {sql_dsum("d2", "inertia")},
           CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
           CAST(MAX(vec_id) AS BIGINT) AS max_vec_id
    FROM ka2 GROUP BY cl
    """,
)
def ns_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (Lloyd, k=8, 2 iterations, init = k smallest vec_ids)
    over the embedding corpus: per-cluster membership, exact-decimal
    inertia, id span. The iterative-ML workload expressed in
    DataFrames — and, since every arithmetic step is a correctly-
    rounded IEEE op or an exact decimal, the DuckDB oracle replays
    BOTH iterations and hash-matches the result (believed to be the
    first oracle-checked iterative operator in this engine alongside
    ns_dedup_clusters' fixpoint).

    Scale: assignment is one row-local mapInArrow pass against the
    k collected centroids (zero shuffle); the update step is one
    k-row aggregate (map-side combine) + a bounded k x 64
    driver collect per iteration. Iterations are a driver loop —
    checkpointing between them (localCheckpoint, the
    ns_dedup_clusters pattern) caps lineage if k or the iteration
    count grows. Empty clusters simply drop their row (both engines
    agree; with init-by-id and 2 iterations none occur at test SFs,
    and the property test pins total membership = corpus)."""
    a2 = kmeans_assign(spark, sf_dir)
    return a2.groupBy(
        F.col("cl").cast("bigint").alias("cluster_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum(F.col("d2").cast("decimal(28,6)"))
        .cast("double")
        .alias("inertia"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
        F.max("vec_id").cast("bigint").alias("max_vec_id"),
    )


def _sem_near_sql(k_expr: str) -> str:
    """The WITH-prefix through the `near` CTE — the within-cluster
    cosine >= tau pair graph over the `k_expr`-cluster Lloyd prefix.
    Shared by _sem_sql (per-edge drop rule) and the
    ns_semdedup_components oracle (connected-component keepers), so
    the two drop rules are provably over the SAME edge set."""
    return f"""
    WITH {_km_sql_prefix(k_expr)},
    nrm AS (
      SELECT e.vec_id,
             sqrt(list_reduce(
               list(CAST(e.embedding[i.i] AS DOUBLE)
                    * CAST(e.embedding[i.i] AS DOUBLE) ORDER BY i.i),
               (a, b) -> a + b)) AS nrm
      FROM embeddings e CROSS JOIN idx i GROUP BY e.vec_id
    ),
    prs AS (
      SELECT x.vec_id AS va, y.vec_id AS vb
      FROM ka2 x JOIN ka2 y ON x.cl = y.cl AND x.vec_id < y.vec_id
    ),
    pdot AS (
      SELECT p.va, p.vb,
             list_reduce(
               list(CAST(ea.embedding[i.i] AS DOUBLE)
                    * CAST(eb.embedding[i.i] AS DOUBLE) ORDER BY i.i),
               (a, b) -> a + b) AS dot
      FROM prs p
      JOIN embeddings ea ON ea.vec_id = p.va
      JOIN embeddings eb ON eb.vec_id = p.vb
      CROSS JOIN idx i
      GROUP BY 1, 2
    ),
    near AS (
      SELECT d.va, d.vb, d.dot / (na.nrm * nb.nrm) AS cosv
      FROM pdot d
      JOIN nrm na ON na.vec_id = d.va
      JOIN nrm nb ON nb.vec_id = d.vb
      WHERE d.dot / (na.nrm * nb.nrm) >= CAST({_SEM_TAU!r} AS DOUBLE)
    )"""


def _sem_sql(k_expr: str, k_col: str = "") -> str:
    """SemDeDup oracle body over the `k_expr`-cluster Lloyd prefix;
    `k_col` optionally prepends a derived-k output column (the auto
    variant gates the derivation value itself)."""
    return f"""
    {_sem_near_sql(k_expr)},
    nbr AS (
      SELECT va AS vec_id, vb AS nb, cosv FROM near
      UNION ALL
      SELECT vb AS vec_id, va AS nb, cosv FROM near
    ),
    per AS (
      SELECT vec_id, COUNT(*) AS ndn, MAX(cosv) AS best_cos,
             MIN(CASE WHEN nb < vec_id THEN nb END) AS dup_of
      FROM nbr GROUP BY vec_id
    )
    SELECT {k_col}a.vec_id, a.cl AS cluster_id,
           CAST(COALESCE(p.ndn, 0) AS BIGINT) AS n_dup_neighbors,
           p.best_cos AS best_cos,
           CAST(p.dup_of AS BIGINT) AS dup_of,
           CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS keep
    FROM ka2 a LEFT JOIN per p ON a.vec_id = p.vec_id
    """


@query("ns_semdedup", _sem_sql(str(_KM_K)))
def ns_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means the embedding corpus (the SHARED
    kmeans_assign — same clustering the ns_cluster_kmeans hash gate
    pins), then within each cluster mark cosine >= {tau} pairs and
    drop every vector that has a smaller-id near-duplicate neighbor.
    NOTE the drop rule is per-EDGE, not per-component: in a
    transitive chain a~b, b~c (a!~c) both b and c are dropped and c's
    dup_of names the already-dropped b — stricter than the greedy
    scan-against-kept-set variant (which would keep c, whose only
    near neighbor died), though LESS strict than one-keeper-per-
    component (per-edge keeps every LOCAL minimum: a vertex with no
    smaller direct neighbor survives even when a smaller vector sits
    two hops away — so per-edge keepers always ⊇ component keepers;
    r11 correction of the r10 wording, proven by the
    ns_semdedup_components subset property test). The per-edge rule
    is chosen because it is ONE self-join + aggregate (no iteration)
    and errs toward over-pruning vs greedy — acceptable for dedup,
    identical on both engines; consumers wanting exactly one keeper
    per component (and dup references that always name a SURVIVING
    vector) should use the registered ns_semdedup_components instead
    of hand-composing ns_dedup_clusters. Output: every
    vector with its cluster, near-dup degree, best duplicate cosine,
    the keeper it duplicates, and the keep verdict — the manifest the
    filtered corpus export consumes (doc-text analogue:
    ns_dedup_canonical).

    Determinism: pair cosines are left-fold double dots over
    left-fold double norms (sqrt is IEEE-correctly-rounded) — every
    emitted value replays bit-exactly in the oracle.

    Scale: the candidate set is WITHIN-CLUSTER pairs — the whole
    point of SemDeDup vs all-pairs dedup. Here k is pinned to the
    oracle geometry (8), so cells grow with the corpus; production
    sizes k ~ n/target_cell (the auto_planes_per_band treatment),
    keeping per-cell pair work bounded while the join stays keyed on
    cl. The pair join is an equi-join on cl (sort-merge/shuffled
    hash — never a nested loop), parallelism = k."""
    return semdedup_frame(spark, sf_dir)


def _sem_near(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KM_K,
) -> tuple[DataFrame, DataFrame]:
    """(assignment, near): the shared SemDeDup front — 2-iteration
    Lloyd assignment plus the within-cluster cosine >= tau pair graph
    (va < vb, one row per undirected edge). The pair join is an
    equi-join keyed on cl; both the per-edge drop rule
    (semdedup_frame) and the component keepers
    (ns_semdedup_components) consume this same edge set — the Spark
    twin of _sem_near_sql."""
    from .registry import persist_evicting

    a2 = kmeans_assign(spark, sf_dir, k)
    nrm = F.sqrt(_dot_dbl(F.col("embedding"), F.col("embedding")))
    # The assignment pass is the expensive part of this frame (k
    # distance folds per row) and the plan consumed it THREE times:
    # both sides of the pair self-join plus the final manifest
    # join-back. Persist it once per invocation (guide §5 reuse rule;
    # the MLlib Lloyd shape — strictly within-invocation, evicted on
    # the next call) so the assignment and the parquet scan run once,
    # not three times.
    base = persist_evicting(
        a2.select("vec_id", "cl", "embedding", nrm.alias("nrm")),
        "clustering._sem_near.base",
    )
    x = base.select(
        F.col("vec_id").alias("va"),
        F.col("cl").alias("cl"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    y = base.select(
        F.col("vec_id").alias("vb"),
        F.col("cl").alias("cl"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cosv = _dot_dbl(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    near = (
        x.join(y, ["cl"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", cosv.alias("cosv"))
        .filter(F.col("cosv") >= F.lit(_SEM_TAU))
    )
    # consumers only join back on (vec_id, cl) — serve it off the
    # persisted base instead of a third assignment recompute
    return base.select("vec_id", "cl"), near


def semdedup_frame(
    spark: SparkSession,
    sf_dir: str,
    k: int = _KM_K,
) -> DataFrame:
    """k-parameterized SemDeDup body — the registered operator pins
    k=_KM_K (the fixed oracle geometry); scale runs pass k=auto_k(n)
    so cells stay ~256 and pair work stays linear in the corpus."""
    a2, near = _sem_near(spark, sf_dir, k)
    # both orientations of each edge via one row-local explode — the
    # unionAll form this replaces duplicated the whole `near` subtree
    # (pair join + n²/k cosine folds) into BOTH branches, computing
    # the edge set twice per run (guide §2.4 duplicated-subtree rule;
    # same multiset of (vec_id, nb, cosv) rows, order-free aggregate)
    nbr = near.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("va").alias("vec_id"),
                    F.col("vb").alias("nb"),
                    F.col("cosv").alias("cosv"),
                ),
                F.struct(
                    F.col("vb").alias("vec_id"),
                    F.col("va").alias("nb"),
                    F.col("cosv").alias("cosv"),
                ),
            )
        ).alias("s")
    ).select("s.vec_id", "s.nb", "s.cosv")
    per = nbr.groupBy("vec_id").agg(
        F.count("*").alias("ndn"),
        F.max("cosv").alias("best_cos"),
        F.min(F.when(F.col("nb") < F.col("vec_id"), F.col("nb"))).alias(
            "dup_of"
        ),
    )
    return a2.select("vec_id", "cl").join(per, ["vec_id"], "left").select(
        "vec_id",
        F.col("cl").cast("bigint").alias("cluster_id"),
        F.coalesce("ndn", F.lit(0)).cast("bigint").alias("n_dup_neighbors"),
        "best_cos",
        F.col("dup_of").cast("bigint").alias("dup_of"),
        F.when(F.col("dup_of").isNull(), 1).otherwise(0).alias("keep"),
    )


ns_semdedup.__doc__ = ns_semdedup.__doc__.format(tau=_SEM_TAU)


@query(
    "ns_semdedup_auto",
    _sem_sql(_AUTO_K_SQL, k_col=f"CAST({_AUTO_K_SQL} AS BIGINT) AS k, "),
)
def ns_semdedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the PRODUCTION auto-k geometry: k =
    auto_k(corpus count) instead of the pinned oracle k — the r9
    verdict's one weak component (pinned k=8 means cells grow with
    the corpus and within-cell pair work goes quadratic; auto-k keeps
    cells ~target_cell so pair work stays LINEAR, SCALING.md's
    measured 53.3x → ~1x flip at the 100x decade).

    The derivation itself is oracle-gated (the ns_dedup_bloom m_bits
    precedent): BOTH engines compute k = max({k0}, n // {cell}) from
    the same corpus count — DuckDB as a scalar subquery inside the
    Lloyd prefix, Spark as one bounded count() before the driver-
    coordinated iterations — and the derived k is an output column,
    so a broken derivation hash-mismatches instead of hiding behind
    the fallback max (at sf0.01, n=500 ⇒ k=15 ≠ the fixed 8; the
    registered cell target 32 is deliberately small so the gate is
    non-trivial at test SFs — production uses auto_k's default 256).

    Everything downstream is the SHARED semdedup_frame /
    kmeans_assign path ns_semdedup pins at k=8 — same Lloyd
    iterations, same exact-decimal means, same within-cluster pair
    join keyed on cl."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    k = auto_k(em.count(), _AUTO_CELL)
    out = semdedup_frame(spark, sf_dir, k)
    return out.select(
        F.lit(int(k)).cast("bigint").alias("k"), *out.columns
    )


ns_semdedup_auto.__doc__ = ns_semdedup_auto.__doc__.format(
    k0=_KM_K, cell=_AUTO_CELL
)


_SEM_COMPONENTS_SQL = f"""
    {_sem_near_sql(str(_KM_K))},
    bidir AS (
      SELECT va AS a, vb AS b FROM near
      UNION
      SELECT vb, va FROM near
    ),
    reach AS (
      WITH RECURSIVE t(x, y) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT t.x, bidir.b FROM t JOIN bidir ON t.y = bidir.a
      )
      SELECT * FROM t
    ),
    comp AS (
      SELECT x AS vec_id, least(x, MIN(y)) AS component_id
      FROM reach GROUP BY x
    )
    SELECT a.vec_id, a.cl AS cluster_id,
           CAST(COALESCE(c.component_id, a.vec_id) AS BIGINT)
             AS component_id,
           CASE WHEN COALESCE(c.component_id, a.vec_id) = a.vec_id
                THEN 1 ELSE 0 END AS keep
    FROM ka2 a LEFT JOIN comp c ON a.vec_id = c.vec_id
"""


@query("ns_semdedup_components", _SEM_COMPONENTS_SQL)
def ns_semdedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with COMPONENT-level keepers: the same within-cluster
    cosine >= {tau} edge set as ns_semdedup (shared _sem_near front,
    so the two drop rules cannot drift apart), but instead of the
    per-EDGE rule — whose dup_of can name an ALREADY-DROPPED vector
    in a transitive chain (a~b, b~c: c's dup_of is b, itself dropped
    for a), and which keeps every LOCAL minimum (a vertex with no
    smaller neighbor survives even when a smaller vector sits two
    hops away in its component) — connected components over the
    near-dup graph keep exactly ONE vector per component: the min
    vec_id, and every dropped vector's component_id names a keeper
    that actually survives. This is the composition ns_semdedup's
    docstring told consumers to hand-build from ns_dedup_clusters,
    now registered.

    Components via the SHARED min_label_components fixpoint
    (operators/dedup.py — the Pregel-style min-label loop
    ns_dedup_clusters proved, localCheckpoint per round, shuffles
    sized to the PAIR graph not the corpus); the oracle replays it
    with the same recursive-CTE pattern over the same `near` CTE.
    Singletons (no near edge) are their own keeper via left join +
    coalesce. Output: every vector with its k-means cluster, its
    component id (= the keeper), and the keep verdict — exactly one
    keep=1 per component, property-tested, and the component keeper
    set is a SUBSET of ns_semdedup's per-edge keeper set (a global
    component min has no smaller neighbor anywhere).

    Scale: the edge set is within-cluster pairs (k-keyed equi-join,
    the SemDeDup candidate bound); the fixpoint's per-round work is
    proportional to the EDGE list — near-dup graphs are sparse by
    construction (tau-thresholded), so the loop is the cheap tail of
    the pipeline at any corpus size."""
    a2, near = _sem_near(spark, sf_dir, _KM_K)
    comp = min_label_components(
        spark, near.select("va", "vb")
    ).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").alias("comp_min"),
    )
    return a2.select("vec_id", "cl").join(comp, ["vec_id"], "left").select(
        "vec_id",
        F.col("cl").cast("bigint").alias("cluster_id"),
        F.coalesce("comp_min", F.col("vec_id"))
        .cast("bigint")
        .alias("component_id"),
        F.when(
            F.coalesce("comp_min", F.col("vec_id")) == F.col("vec_id"), 1
        )
        .otherwise(0)
        .alias("keep"),
    )


ns_semdedup_components.__doc__ = ns_semdedup_components.__doc__.format(
    tau=_SEM_TAU
)


# ---- greedy k-center coreset (Gonzalez farthest-point selection) ----

# Pinned center count (like _KM_K: fixed oracle geometry; production
# scales k with the coreset budget).
_KC_K = 4


def kcenter_select(
    em: DataFrame, k: int, checkpoint_every: int = 32
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Gonzalez farthest-point selection: k (vec_id, embedding)
    centers, plus the frame (vec_id, embedding, dmin, rank) that
    holds every row's nearest center after the last fold — `rank` is
    the center's index in the returned list, `dmin` its squared
    distance. The assignment is the selection's running argmin: each
    round computes its distance `d` once and folds
    `rank = when(d < dmin, t)`, `dmin = least(dmin, d)`. The strict
    `<` keeps the smaller rank on ties, and a NaN distance never
    beats a number (Spark orders NaN after every number) — the
    oracle's `ORDER BY d2, rnk`; a row whose distance is NULL keeps
    rank 0 with dmin NULL. The running-min frame is localCheckpointed
    every `checkpoint_every` rounds — without it the lazy fold chain
    re-executes every prior fold per round (k²·n/2 total; measured in
    SCALING.md's k-center cadence row), with it total fold work is
    ~n·k·cadence/2 = O(n·k) and plan depth stays bounded. Pass 0 to
    disable (the measurement baseline)."""
    first = em.orderBy("vec_id").limit(1).collect()[0]
    centers: list[tuple[int, list[float]]] = [
        (int(first.vec_id), [float(x) for x in first.embedding])
    ]
    cur = em.select(
        "vec_id",
        "embedding",
        F.expr(_sqdiff_chain_sql("embedding", centers[0][1])).alias("dmin"),
        F.lit(0).alias("rank"),
    )
    for rnd in range(1, k):
        win = cur.orderBy(F.desc("dmin"), "vec_id").limit(1).collect()[0]
        centers.append(
            (int(win.vec_id), [float(x) for x in win.embedding])
        )
        # `d` is its own projection: referenced twice below, it is not
        # inlined (CollapseProject keeps a non-trivial expression that
        # has two consumers), so each round's fold runs once per row
        d = cur.select(
            "*",
            F.expr(_sqdiff_chain_sql("embedding", centers[-1][1])).alias("d"),
        )
        cur = d.select(
            "vec_id",
            "embedding",
            F.least(F.col("dmin"), F.col("d")).alias("dmin"),
            F.when(F.col("d") < F.col("dmin"), rnd)
            .otherwise(F.col("rank"))
            .alias("rank"),
        )
        if checkpoint_every and rnd % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
    return centers, cur


def _kc_sql() -> str:
    """k-1 chained selection rounds in SQL: each round picks the
    vector with the LARGEST running min-distance (tie: min vec_id) as
    the next center and folds it into the running min — the exact
    replay of the Spark loop (same least() nesting, same left-fold
    distances)."""

    def dist(c: str) -> str:
        return (
            "list_reduce(list("
            + _SQL_SQDIFF.format(e="e.embedding", c=c)
            + " ORDER BY i.i), (a, b) -> a + b)"
        )

    parts = [
        f"idx AS (SELECT unnest(range(1, {_KM_DIM + 1})) AS i)",
        "kc0 AS (SELECT vec_id AS cid, embedding AS c FROM embeddings"
        " ORDER BY vec_id LIMIT 1)",
        f"""dm0 AS (
      SELECT e.vec_id, {dist("c0.c")} AS dmin
      FROM embeddings e CROSS JOIN kc0 c0 CROSS JOIN idx i
      GROUP BY e.vec_id)""",
    ]
    for t in range(1, _KC_K):
        parts.append(
            f"""kc{t} AS (
      SELECT e.vec_id AS cid, e.embedding AS c
      FROM embeddings e JOIN dm{t - 1} d ON e.vec_id = d.vec_id
      ORDER BY d.dmin DESC, e.vec_id LIMIT 1)"""
        )
        if t < _KC_K - 1:
            parts.append(
                f"""dm{t} AS (
      SELECT e.vec_id, least(d.dmin, {dist("c.c")}) AS dmin
      FROM embeddings e JOIN dm{t - 1} d ON e.vec_id = d.vec_id
      CROSS JOIN kc{t} c CROSS JOIN idx i
      GROUP BY e.vec_id, d.dmin)"""
            )
    cts = " UNION ALL ".join(
        f"SELECT {t} AS rnk, cid, c FROM kc{t}" for t in range(_KC_K)
    )
    parts.append(f"cts AS ({cts})")
    parts.append(
        f"""ad AS (
      SELECT e.vec_id, t.rnk, t.cid, {dist("t.c")} AS d2
      FROM embeddings e CROSS JOIN cts t CROSS JOIN idx i
      GROUP BY e.vec_id, t.rnk, t.cid)"""
    )
    parts.append(
        """best AS (
      SELECT vec_id, cid, rnk, d2 FROM (
        SELECT vec_id, cid, rnk, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, rnk) AS rn
        FROM ad) WHERE rn = 1)"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT b.vec_id,
           CAST(b.cid AS BIGINT) AS center_id,
           CAST(b.rnk AS INT) AS center_rank,
           b.d2 AS d2_nearest,
           CASE WHEN b.vec_id IN (SELECT cid FROM cts) THEN 1 ELSE 0 END
             AS is_center
    FROM best b"""
    )


@query("ns_kcenter_coreset", _kc_sql())
def ns_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez farthest-point
    traversal — the geometric data-SELECTION pass coreset methods
    build on: k maximally-spread exemplars with a 2-approximation
    cover guarantee): start from the min vec_id, then k-1 rounds of
    "pick the vector farthest from every chosen center" (tie: min
    vec_id); output every vector's nearest center, its rank, the
    squared distance (the per-point cover radius), and the is_center
    flag.

    Determinism: distances are the shared left-fold double chain
    (_sqdiff_chain_sql, bit-identical to the oracle's list_reduce); the
    running min folds through the SAME least() nesting on both
    engines; winner selection is a (dmin DESC, vec_id) total order.
    The assignment is the selection's running argmin (kcenter_select:
    strict `<`, so ties keep the smaller rank — the oracle's
    ORDER BY d2, rnk), not a second pass over the corpus.

    Iterative shape on Spark (the Lloyd/BPE loop pattern): each round
    is ONE corpus pass plus a bounded TakeOrdered(1) driver collect
    for the winner. The candidate frame's `dmin` is a LAZY least()
    chain, so without materialization round t re-executes all t prior
    folds (k²·n/2 total — the same lineage trap bpe_train measured);
    kcenter_select therefore localCheckpoints the frame every
    `checkpoint_every` rounds (default 32, bpe_train's measured
    cadence), capping total fold work at ~n·k·cadence/2 = O(n·k) and
    plan depth at the cadence. Zero shuffle in the selection loop
    (the orderBy-limit-1 is TakeOrderedAndProject); the output is a
    projection of the frame after the last center's fold, center_id
    looked up from the rank. At 100 TB the per-round collect stays 1
    row regardless of corpus size."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    centers, cur = kcenter_select(em, _KC_K)
    center_ids = [cid for cid, _ in centers]
    return cur.select(
        "vec_id",
        F.get(F.array(*map(F.lit, center_ids)), F.col("rank"))
        .cast("bigint")
        .alias("center_id"),
        F.col("rank").alias("center_rank"),
        F.col("dmin").alias("d2_nearest"),
        F.when(F.col("vec_id").isin(center_ids), 1)
        .otherwise(0)
        .alias("is_center"),
    )


# ---------- cluster-balanced diversity sampling ----------

# Per-cluster quota: large enough to matter, small enough that the
# rank gate actually drops rows at every test SF (500 vectors / k=8
# clusters ~= 62 per cell >> 16).
_BALANCED_QUOTA = 16


@query(
    "ns_sample_cluster_balanced",
    f"""
    WITH {_KM_SQL_PREFIX},
    ranked AS (
      SELECT vec_id, cl,
             row_number() OVER (
               PARTITION BY cl
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
             ) AS pick_rank
      FROM ka2
    ),
    sizes AS (
      SELECT cl, CAST(COUNT(*) AS BIGINT) AS cluster_n
      FROM ka2 GROUP BY cl
    )
    SELECT r.vec_id, CAST(r.cl AS BIGINT) AS cluster_id,
           CAST(r.pick_rank AS BIGINT) AS pick_rank, s.cluster_n
    FROM ranked r JOIN sizes s ON r.cl = s.cl
    WHERE r.pick_rank <= {_BALANCED_QUOTA}
    """,
)
def ns_sample_cluster_balanced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cluster-balanced diversity sampling (the D4/SemDeDup-era
    "sample evenly across semantic space" selection): assign every
    vector to its k-means cell (the SHARED 2-iteration kmeans_assign
    — one implementation with ns_cluster_kmeans / ns_semdedup), then
    keep a fixed per-cluster quota chosen by a deterministic
    md5-of-id rank — head clusters stop dominating the sample, tail
    clusters survive in full. Emits the kept vectors with their
    cluster, pick rank, and the cluster's pre-sampling size (the
    skew-vs-quota audit).

    Determinism: cluster assignment replays the Lloyd chain both
    engines already hash-gate; the pick key is md5 of the decimal
    vec_id string (byte-identical cross-engine, the ccnet-sample
    precedent) with vec_id itself as tiebreak.

    Scale: assignment is the kmeans_assign path (the row-local
    _assign kernel, exact at every k); the quota rank
    is a cl-partitioned window whose rank<=Q filter Spark pushes into
    WindowGroupLimit (top-Q per partition, never a full per-cell sort
    materialization); the sizes join is a k-row broadcast."""
    from pyspark.sql.window import Window as W

    a = kmeans_assign(spark, sf_dir)
    ranked = a.select("vec_id", "cl").withColumn(
        "pick_rank",
        F.row_number().over(
            W.partitionBy("cl").orderBy(
                F.md5(F.col("vec_id").cast("string")), "vec_id"
            )
        ),
    )
    sizes = a.groupBy("cl").agg(
        F.count("*").cast("bigint").alias("cluster_n")
    )
    return (
        ranked.filter(F.col("pick_rank") <= _BALANCED_QUOTA)
        .join(F.broadcast(sizes), "cl")
        .select(
            "vec_id",
            F.col("cl").cast("bigint").alias("cluster_id"),
            F.col("pick_rank").cast("bigint").alias("pick_rank"),
            "cluster_n",
        )
    )


# ---------- embedding outlier screen ----------

_OUTLIER_Z = 2.0


def _outlier_sql_ctes() -> str:
    """Mean-distance z-score CTE chain ending in `zf(vec_id, d2,
    mean_d2, var_d2)` — shared by ns_embedding_outlier and the
    curation-verdict composition so both replay the identical
    screen."""
    return f"""
    idx AS (SELECT unnest(range(1, {_KM_DIM + 1})) AS i),
    mu AS (
      SELECT i.i AS dim,
             CAST(SUM(CAST(CAST(CAST(e.embedding[i.i] AS DOUBLE)
                                AS VARCHAR) AS DECIMAL(28,12)))
                  AS DOUBLE) / COUNT(*) AS m
      FROM embeddings e CROSS JOIN idx i
      GROUP BY 1
    ),
    muc AS (SELECT list(m ORDER BY dim) AS c FROM mu),
    d AS (
      SELECT e.vec_id,
             list_reduce(
               list({_SQL_SQDIFF.format(e="e.embedding", c="c.c")}
                    ORDER BY i.i),
               (a, b) -> a + b) AS d2
      FROM embeddings e CROSS JOIN muc c CROSS JOIN idx i
      GROUP BY e.vec_id
    ),
    stats AS (
      SELECT COUNT(*) AS n, {sql_dsum("d2", "sd")},
             {sql_dsum("d2 * d2", "sdd")}
      FROM d
    ),
    zf AS (
      SELECT d.vec_id, d.d2,
             (sd / CAST(n AS DOUBLE)) AS mean_d2,
             (sdd / CAST(n AS DOUBLE))
               - (sd / CAST(n AS DOUBLE)) * (sd / CAST(n AS DOUBLE))
               AS var_d2
      FROM d CROSS JOIN stats
    )"""


# the flag expression over zf's columns — ONE definition reused by
# both oracle queries
_OUTLIER_FLAG_SQL = (
    f"CASE WHEN var_d2 > CAST(0.0 AS DOUBLE)"
    f" AND (d2 - mean_d2) / sqrt(var_d2)"
    f" > CAST({_OUTLIER_Z!r} AS DOUBLE) THEN 1 ELSE 0 END"
)


def _outlier_frame(em: DataFrame) -> DataFrame:
    """(vec_id, d2, z, is_outlier) — the Spark-side shared screen
    (one bounded 1-row mean collect, row-local fold, 1-row moments
    broadcast)."""
    # corpus mean via posexplode + ONE dim-keyed decimal sum instead
    # of a 64-column wide aggregate (the kmeans_assign means fix —
    # measured 2× on the same shape; bit-identical sums/divisions)
    mrows = (
        em.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("double").cast("decimal(28,12)"))
            .cast("double")
            .alias("s"),
        )
        .collect()
    )
    mu_by_dim = {int(r.dim): float(r.s) / float(r.n) for r in mrows}
    mu = [mu_by_dim[i] for i in range(_KM_DIM)]
    d = em.select(
        "vec_id", F.expr(_sqdiff_chain_sql("embedding", mu)).alias("d2")
    )
    stats = d.agg(
        F.count("*").alias("n"),
        dsum(F.col("d2"), "sd"),
        dsum(F.col("d2") * F.col("d2"), "sdd"),
    )
    nd = F.col("n").cast("double")
    mean_d2 = F.col("sd") / nd
    var_d2 = F.col("sdd") / nd - (F.col("sd") / nd) * (F.col("sd") / nd)
    zf = d.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "d2",
        mean_d2.alias("mean_d2"),
        var_d2.alias("var_d2"),
    )
    z = (F.col("d2") - F.col("mean_d2")) / F.sqrt(F.col("var_d2"))
    return zf.select(
        "vec_id",
        "d2",
        F.when(F.col("var_d2") > F.lit(0.0), z).alias("z"),
        F.when(
            (F.col("var_d2") > F.lit(0.0)) & (z > F.lit(_OUTLIER_Z)),
            1,
        )
        .otherwise(0)
        .alias("is_outlier"),
    )


@query(
    "ns_embedding_outlier",
    f"""
    WITH {_outlier_sql_ctes()}
    SELECT vec_id, d2,
           CASE WHEN var_d2 > CAST(0.0 AS DOUBLE)
                THEN (d2 - mean_d2) / sqrt(var_d2) END AS z,
           {_OUTLIER_FLAG_SQL} AS is_outlier
    FROM zf
    """,
)
def ns_embedding_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier screen: squared distance of every vector to
    the corpus mean vector, z-scored against the corpus's own
    distance distribution — the "drop the weird 0.1%" filter run
    before clustering/semdedup (mis-embedded, truncated, or
    wrong-modality rows sit far from the mass and poison centroids).
    Emits d2, z, and the is_outlier flag at z > 2.

    Determinism: the mean vector is the VARCHAR-routed exact-decimal
    per-dim mean (the kmeans means1 / km1 convention — one bounded
    1-row collect, the Lloyd pattern), replayed against literals with
    the shared _sqdiff_chain_sql left fold; distance moments ride dsum;
    z's (d2 - mean)/sqrt(var) is the same IEEE tree both engines
    (sqrt is correctly rounded), behind a var > 0 gate that cannot
    diverge.

    Scale: ONE corpus pass for the 64 per-dim sums (posexplode-free
    row-local getItem projections, map-side combined), one bounded
    collect, ONE corpus pass for d2 (row-local fold against 64
    literals — no join), one 3-column stats aggregate, and a 1-row
    broadcast back onto the d2 frame. Nothing corpus-scaled ever
    joins or sorts."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    return _outlier_frame(em)


# ---------- product quantization ----------

# PQ geometry: 8 subspaces x 8 dims, 4 codewords each — a 64-dim
# vector compresses to 8 2-bit codes (2 bytes). Tiny K keeps the
# oracle's 8 parallel Lloyd chains tractable at the gate SF while the
# mechanism (per-subspace k-means, argmin encode, additive error) is
# exactly the production shape (Jégou et al. 2011; production K=256
# per subspace = 8 bytes/vector).
_PQ_M = 8
_PQ_DSUB = _KM_DIM // _PQ_M
_PQ_K = 4


def _pq_sql_prefix(src: str = "embeddings") -> str:
    """PQ train-and-encode CTE chain ending in `a2(vec_id, m, cl,
    d2)` (per-subspace codes) and `cb(m, j, cc)` (the trained
    codebook) — shared by ns_embedding_pq and ns_similarity_pq_adc so
    both oracles replay the IDENTICAL codebook. `src` swaps the
    training/encode relation (default `embeddings`; the residual
    IVFADC oracle passes its `resid(vec_id, embedding)` CTE — the
    rendered text is byte-identical at the default, so the proven
    oracles are untouched)."""
    sq = (
        "(CAST(e.embedding[{b}.m * {ds} + i.i] AS DOUBLE) - {c})"
        " * (CAST(e.embedding[{b}.m * {ds} + i.i] AS DOUBLE) - {c})"
    )
    sq1 = sq.format(
        b="s", ds=_PQ_DSUB,
        c=f"CAST(c.c[s.m * {_PQ_DSUB} + i.i] AS DOUBLE)",
    )
    sq2 = sq.format(b="b", ds=_PQ_DSUB, c="b.cc[i.i]")
    return f"""
    e4 AS (
      SELECT j, c FROM (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j,
               embedding AS c
        FROM {src}
      ) WHERE j < {_PQ_K}
    ),
    sub AS (SELECT unnest(range(0, {_PQ_M})) AS m),
    i8 AS (SELECT unnest(range(1, {_PQ_DSUB + 1})) AS i),
    d1 AS (
      SELECT e.vec_id, s.m, c.j,
             list_reduce(list({sq1} ORDER BY i.i), (a, b) -> a + b) AS d2
      FROM {src} e CROSS JOIN sub s CROSS JOIN e4 c CROSS JOIN i8 i
      GROUP BY 1, 2, 3
    ),
    a1 AS (
      SELECT vec_id, m, j AS cl FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, j) AS rn
        FROM d1) WHERE rn = 1
    ),
    mu AS (
      SELECT a.m, a.cl, i.i AS dim,
             CAST(SUM(CAST(CAST(CAST(
                    e.embedding[a.m * {_PQ_DSUB} + i.i] AS DOUBLE)
                    AS VARCHAR) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS v
      FROM a1 a JOIN {src} e ON a.vec_id = e.vec_id
      CROSS JOIN i8 i
      GROUP BY 1, 2, 3
    ),
    cb AS (
      SELECT s.m, c.j,
             list(COALESCE(mu.v,
                           CAST(c.c[s.m * {_PQ_DSUB} + i.i] AS DOUBLE))
                  ORDER BY i.i) AS cc
      FROM sub s CROSS JOIN e4 c CROSS JOIN i8 i
      LEFT JOIN mu ON mu.m = s.m AND mu.cl = c.j AND mu.dim = i.i
      GROUP BY 1, 2
    ),
    d2f AS (
      SELECT e.vec_id, b.m, b.j,
             list_reduce(list({sq2} ORDER BY i.i), (a, b) -> a + b) AS d2
      FROM {src} e CROSS JOIN cb b CROSS JOIN i8 i
      GROUP BY 1, 2, 3
    ),
    a2 AS (
      SELECT vec_id, m, cl, d2 FROM (
        SELECT vec_id, m, j AS cl, d2,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, j) AS rn
        FROM d2f) WHERE rn = 1
    )"""


def _pq_sub(m: int) -> Column:
    """Subvector m as a 1-based slice of the embedding column."""
    return F.slice(F.col("embedding"), m * _PQ_DSUB + 1, _PQ_DSUB)


def _pq_argmin(m: int, cb: dict) -> Column:
    """Row-local nearest-codeword struct (d, j) for subspace m — an
    array_min over (d2, j) structs ((d2, j) lexicographic == the
    oracle's ORDER BY d2, j). Built as ONE generated-SQL expr (the
    _sqdiff_chain_sql rationale: profiling put ~1.6 s of py4j Column
    assembly per pq_train call)."""
    x = f"slice(embedding, {m * _PQ_DSUB + 1}, {_PQ_DSUB})"
    structs = ", ".join(
        f"struct({_sqdiff_chain_sql(x, cb[(m, j)])} as d, {j} as j)"
        for j in range(_PQ_K)
    )
    return F.expr(f"array_min(array({structs}))")


def _pq_train(em: DataFrame) -> dict:
    """Train the PQ codebook (one Lloyd update per subspace) and
    return {(m, j): [D_SUB floats]}. Two bounded collects: the K init
    rows and the ≤ M·K·D_SUB = 256 mean values; empty codeword cells
    keep their init position (mirrored by the oracle's COALESCE).
    Shared by ns_embedding_pq and ns_similarity_pq_adc so both encode
    against the SAME codebook."""
    init = em.orderBy("vec_id").limit(_PQ_K).collect()
    cb0 = {
        (m, j): [
            float(v)
            for v in init[j].embedding[m * _PQ_DSUB:(m + 1) * _PQ_DSUB]
        ]
        for j in range(_PQ_K)
        for m in range(_PQ_M)
    }
    a1 = em.select(
        "vec_id",
        "embedding",
        *[
            _pq_argmin(m, cb0).getField("j").alias(f"cl{m}")
            for m in range(_PQ_M)
        ],
    )
    exr = (
        a1.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.col(f"cl{m}").alias("cl"),
                            _pq_sub(m).alias("sv"),
                        )
                        for m in range(_PQ_M)
                    ]
                )
            ).alias("s")
        )
        .select("s.m", "s.cl", F.posexplode("s.sv").alias("pos", "v"))
        .select("m", "cl", (F.col("pos") + 1).alias("dim"), "v")
    )
    mu = (
        exr.groupBy("m", "cl", "dim")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(28,12)"))
                .cast("double")
                / F.count("*")
            ).alias("v")
        )
        .collect()
    )
    cb1 = {k: list(v) for k, v in cb0.items()}
    for r in mu:
        cb1[(r.m, r.cl)][r.dim - 1] = float(r.v)
    return cb1


def _pq_train_timed(em: DataFrame) -> dict:
    """_pq_train under the 'pq_train' perf counter — bench.py deltas
    it to split codebook-training (build) cost out of the per-run-
    rebuild operators' end-to-end timings (r12 verdict #4)."""
    from .. import perf

    with perf.timed("pq_train"):
        return _pq_train(em)


def _pq_sql() -> str:
    cpiv = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN cl END) AS c{m}" for m in range(_PQ_M)
    )
    epiv = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN d2 END) AS e{m}" for m in range(_PQ_M)
    )
    code = " + ".join(f"c{m} * {_PQ_K ** m}" for m in range(_PQ_M))
    qerr = "e0"
    for m in range(1, _PQ_M):
        qerr = f"({qerr} + e{m})"
    return f"""
    WITH {_pq_sql_prefix()},
    piv AS (
      SELECT vec_id, {cpiv}, {epiv}
      FROM a2 GROUP BY 1
    )
    SELECT vec_id,
           CAST({code} AS BIGINT) AS pq_code,
           {qerr} AS qerr,
           CAST(c0 AS BIGINT) AS code_0,
           CAST(c1 AS BIGINT) AS code_1
    FROM piv
    """


@query("ns_embedding_pq", _pq_sql())
def ns_embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jégou et al. 2011 — the codebook
    compression inside every production ANN index): split each 64-dim
    vector into 8 subspaces of 8 dims, run a per-subspace k-means
    (K=4, the shared 2-assignment Lloyd shape), and encode every
    vector as its 8 nearest-codeword indices packed into ONE pq_code
    integer (2 bits per subspace here; 8 bits at production K=256),
    plus the additive quantization error — a 256-byte vector becomes
    2 bytes that asymmetric-distance search scans.

    Determinism: init codewords are the first K vectors' subvectors
    (the c0 convention); assignments are the _sqdiff_chain_sql left fold
    against literals with (d2, j) argmin tie-break (array_min struct
    == ORDER BY d2, j); per-(subspace, codeword, dim) means ride the
    VARCHAR-routed exact decimal (km1); EMPTY codeword cells keep
    their init position on BOTH engines (COALESCE in the oracle, the
    dict-copy in Spark); qerr is the
    explicit left-associated 8-term chain, never an order-free SUM.

    Scale: both assignment passes are row-local folds against M·K
    literal codewords (zero shuffle — cheaper than flat k-means at
    equal code count: M·K·D_SUB = 256 mults/row vs k·64); the means
    pass is ONE (m, cl, dim)-keyed aggregate over the posexploded
    subvectors (the ns_embedding_profile shape, ≤ M·K·D_SUB = 256
    output rows) and ONE bounded 256-value collect (Lloyd pattern).
    At production K=256 the codebook is 16k plan literals — the
    cost the literal-free _assign kernel removes for k-means."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    cb1 = _pq_train(em)
    mins = [_pq_argmin(m, cb1) for m in range(_PQ_M)]
    code = None
    for m in range(_PQ_M):
        term = mins[m].getField("j").cast("bigint") * F.lit(_PQ_K ** m)
        code = term if code is None else code + term
    qerr = None
    for m in range(_PQ_M):
        e = mins[m].getField("d")
        qerr = e if qerr is None else qerr + e
    return em.select(
        "vec_id",
        code.cast("bigint").alias("pq_code"),
        qerr.alias("qerr"),
        mins[0].getField("j").cast("bigint").alias("code_0"),
        mins[1].getField("j").cast("bigint").alias("code_1"),
    )


# ---------- PQ asymmetric-distance search ----------

_ADC_TOPK = 10
_ADC_N_PROBES = 5  # the vec_id < 5 probe convention (similarity.py)


def _adc_tables_sql_ctes(probe_pred: str | None = None) -> str:
    """`probes(probe_id, q)` + `tt(probe_id, m, j, t)` — the per-probe
    M×K asymmetric distance tables, shared VERBATIM by _adc_sql
    (ns_similarity_pq_adc), _ivfpq_sql (ns_similarity_ivfpq), and
    stream_ann_serve's oracle (probe_pred widens the probe set) so
    every oracle scores against identical tables. Requires
    _pq_sql_prefix's `cb`/`i8` in scope."""
    if probe_pred is None:
        probe_pred = f"vec_id < {_ADC_N_PROBES}"
    sqq = (
        f"(CAST(p.q[b.m * {_PQ_DSUB} + i.i] AS DOUBLE) - b.cc[i.i])"
        f" * (CAST(p.q[b.m * {_PQ_DSUB} + i.i] AS DOUBLE) - b.cc[i.i])"
    )
    return f"""probes AS (
      SELECT vec_id AS probe_id, embedding AS q
      FROM embeddings WHERE {probe_pred}
    ),
    tt AS (
      SELECT p.probe_id, b.m, b.j,
             list_reduce(list({sqq} ORDER BY i.i), (a, b) -> a + b) AS t
      FROM probes p CROSS JOIN cb b CROSS JOIN i8 i
      GROUP BY 1, 2, 3
    )"""


def _adc_pivot_sql() -> tuple[str, str]:
    """(pivot column list, left-associated adc sum) over adcm(vec_id,
    probe_id, m, t) — the per-(probe, vector) 8-lookup score shared by
    _adc_sql and _ivfpq_sql."""
    tpiv = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN t END) AS t{m}" for m in range(_PQ_M)
    )
    adc = "t0"
    for m in range(1, _PQ_M):
        adc = f"({adc} + t{m})"
    return tpiv, adc


def _adc_sql() -> str:
    tpiv, adc = _adc_pivot_sql()
    return f"""
    WITH {_pq_sql_prefix()},
    {_adc_tables_sql_ctes()},
    adcm AS (
      SELECT a.vec_id, t.probe_id, a.m, t.t
      FROM a2 a JOIN tt t ON t.m = a.m AND t.j = a.cl
    ),
    piva AS (
      SELECT vec_id, probe_id, {tpiv}
      FROM adcm GROUP BY 1, 2
    ),
    scored AS (
      SELECT probe_id, vec_id, {adc} AS adc_d2
      FROM piva WHERE vec_id != probe_id
    )
    SELECT probe_id, vec_id AS neighbor_id, adc_d2,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY probe_id ORDER BY adc_d2, vec_id
             ) AS rank
      FROM scored
    ) WHERE rank <= {_ADC_TOPK}
    """


def _adc_tables(queries: dict, cb: dict) -> dict:
    """Driver-computed ADC distance tables {key: [M rows of K squared
    distances]}, one per query vector of `queries` {key: vector} —
    bounded (|queries|·M·K values). The one table builder of the ADC
    family: ns_similarity_pq_adc and ivfpq_topk pass the raw probe
    vectors, ivfpq_topk_residual the residual query q − centroid(cell)
    per (probe, probed cell). Left-associated Python float adds ≡ the
    oracle's list_reduce fold over identical doubles."""
    tables: dict = {}
    for key, q in queries.items():
        tabs = []
        for m in range(_PQ_M):
            qsub = [float(v) for v in q[m * _PQ_DSUB:(m + 1) * _PQ_DSUB]]
            row = []
            for j in range(_PQ_K):
                acc = 0.0
                for a, b in zip(qsub, cb[(m, j)]):
                    acc = acc + (a - b) * (a - b)
                row.append(acc)
            tabs.append(row)
        tables[key] = tabs
    return tables


@query("ns_similarity_pq_adc", _adc_sql())
def ns_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (the ADC scan of Jégou et al. —
    what a production ANN index actually executes per query): for
    each probe, precompute the M×K table of exact probe-subvector →
    codeword distances, then score every corpus vector as the sum of
    8 TABLE LOOKUPS on its pq codes — the query never touches the
    256-byte vectors, only the 2-byte codes — and return the top-10
    by (adc_d2, vec_id). The consumer ns_embedding_pq's codes exist
    for, closing the train → encode → search chain (probes follow
    the vec_id < 5 convention of ns_similarity_topk, whose exact
    top-k is this operator's recall baseline).

    Determinism: the codebook is the SHARED _pq_train state (both
    oracles replay one _pq_sql_prefix); distance tables are
    left-associated squared-diff sums over identical doubles (driver
    Python loop ≡ list_reduce); adc is the explicit left-associated
    8-term lookup chain; ranks carry the vec_id tiebreak.

    Scale: tables are M·K·|probes| = 160 driver-computed literals
    (bounded); the corpus pass is ONE row-local projection — encode
    (256 mults) + 8 array-literal lookups per row, zero joins; the
    per-probe top-k is a probe_id window whose rank gate Spark
    pushes into WindowGroupLimit (per-input-partition partial top-10
    before the 5-key exchange — the corpus never piles into 5
    tasks)."""
    from pyspark.sql.window import Window as W

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    cb1 = _pq_train(em)
    probes = (
        em.filter(F.col("vec_id") < _ADC_N_PROBES)
        .orderBy("vec_id")
        .collect()
    )
    tables = _adc_tables({p.vec_id: p.embedding for p in probes}, cb1)
    codes = [
        _pq_argmin(m, cb1).getField("j").alias(f"c{m}")
        for m in range(_PQ_M)
    ]
    enc = em.select("vec_id", *codes)
    per_probe = []
    for p in probes:
        adc = None
        for m in range(_PQ_M):
            lut = F.array(*[F.lit(t) for t in tables[p.vec_id][m]])
            term = F.element_at(lut, F.col(f"c{m}") + 1)
            adc = term if adc is None else adc + term
        per_probe.append(
            F.struct(
                F.lit(p.vec_id).alias("probe_id"), adc.alias("adc_d2")
            )
        )
    scored = (
        enc.select(
            "vec_id", F.explode(F.array(*per_probe)).alias("s")
        )
        .select(
            F.col("s.probe_id").cast("bigint").alias("probe_id"),
            "vec_id",
            "s.adc_d2",
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    w = W.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ADC_TOPK)
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------- IVF-PQ composed search (FAISS IVFADC) ----------

_IVFPQ_NPROBE = 2  # the ns_similarity_ann_ivf probe-cell convention


def _ivfpq_sql(probe_pred: str | None = None) -> str:
    """Oracle for the composed index: the coarse-quantizer CTE chain
    is ns_similarity_ann_ivf's VERBATIM (_ivf_assign_sql_ctes), the
    codebook/codes/tables are ns_similarity_pq_adc's VERBATIM
    (_pq_sql_prefix + _adc_tables_sql_ctes + _adc_pivot_sql) — the
    only new text is the candidate join that restricts the ADC scan
    to probed cells. `probe_pred` widens the probe set for
    stream_ann_serve's oracle (default = the vec_id<5 convention)."""
    from .similarity import _ivf_assign_sql_ctes

    tpiv, adc = _adc_pivot_sql()
    kw = {} if probe_pred is None else {"probe_pred": probe_pred}
    return f"""
    WITH {_ivf_assign_sql_ctes(**kw)},
    {_pq_sql_prefix()},
    {_adc_tables_sql_ctes(probe_pred)},
    cand AS (
      SELECT pc.query_id AS probe_id, a.vec_id
      FROM probe_cells pc JOIN assigned a ON a.cell_id = pc.cell_id
      WHERE a.vec_id != pc.query_id
    ),
    adcm AS (
      SELECT c.vec_id, c.probe_id, a.m, t.t
      FROM cand c
      JOIN a2 a ON a.vec_id = c.vec_id
      JOIN tt t ON t.probe_id = c.probe_id
              AND t.m = a.m AND t.j = a.cl
    ),
    piva AS (
      SELECT vec_id, probe_id, {tpiv}
      FROM adcm GROUP BY 1, 2
    ),
    scored AS (
      SELECT probe_id, vec_id, {adc} AS adc_d2
      FROM piva
    )
    SELECT probe_id, vec_id AS neighbor_id, adc_d2,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY probe_id ORDER BY adc_d2, vec_id
             ) AS rank
      FROM scored
    ) WHERE rank <= {_ADC_TOPK}
    """


def ivfpq_build_index(em: DataFrame, cent: DataFrame, cb: dict) -> DataFrame:
    """The IVFADC index build — ONE fused corpus pass producing
    `(vec_id, cell_id, c0..c{M-1})`: coarse cell via broadcast-join
    argmax dot, PQ codes via row-local argmin in the same projection.
    In production this frame is materialized ONCE partitioned/bucketed
    by cell_id (ns_ann_index_serve serves that amortized query path);
    ivfpq_topk builds it inline when no index is passed. The
    coarse assignment is similarity._ivf_assigned — the ONE shared
    implementation every IVF consumer prunes through — with the PQ
    encode fused into the same projection."""
    from .similarity import _ivf_assigned

    return _ivf_assigned(em, cent).select(
        "vec_id",
        "cell_id",
        *[
            _pq_argmin(m, cb).getField("j").alias(f"c{m}")
            for m in range(_PQ_M)
        ],
    )


def _probe_top_cells(q_emb, cents: list, nprobe: int) -> list[int]:
    """Top-`nprobe` cells for one probe vector by (-dot, cent_id) —
    left-fold double dot ≡ _dot_dbl / the oracle's list_reduce.
    Bounded driver work (|cents| ≤ _IVF_MAX_CELLS dots). Shared by
    ivfpq_topk and ivfpq_topk_residual."""
    scoredc = []
    for c in cents:
        acc = 0.0
        for a, b in zip(q_emb, c.cent_emb):
            acc = acc + float(a) * float(b)
        scoredc.append((-acc, int(c.cent_id)))
    scoredc.sort()
    return [cid for _neg, cid in scoredc[:nprobe]]


def _ivfpq_score_join(
    enc: DataFrame,
    tables: dict[tuple[int, int], list[list[float]]],
    k: int,
) -> DataFrame:
    """The one IVFADC scorer and top-k tail, behind ivfpq_topk and
    ivfpq_topk_residual at every probe count. `tables` maps each
    (probe_id, probed cell_id) to that pair's M×K distance tables (the
    raw path repeats a probe's tables per cell; the residual path's
    differ per cell). They ride a broadcast probe table — one row per
    key — EQUI-JOINED on cell_id against the codes, each lookup
    resolved with element_at and summed left-associated t0+…+t7. The
    tables are data, not code: the plan is one broadcast HASH join
    (never a nested loop) whose size does not grow with |probes|, so
    no batch size reaches the 64 KB generated-method limit. The
    union-of-probed-cells prefilter is a SIMPLE predicate on cell_id,
    so when `enc` is materialized partitioned/bucketed by cell it
    pushes to the scan and prunes whole files (the inverted-list
    read); the join only resolves WHICH probes a surviving row
    belongs to. Top-k is a probe_id window whose rank gate Spark
    pushes into WindowGroupLimit (partial top-k per input partition
    before the |probes|-key exchange)."""
    from pyspark.sql.window import Window as W

    ptab = local_frame(
        enc.sparkSession,
        [(pid, cell, tabs) for (pid, cell), tabs in tables.items()],
        "probe_id long, cell_id long, tabs array<array<double>>",
    )
    probed_union = sorted({cell for _pid, cell in tables})
    cand = (
        enc.filter(F.col("cell_id").isin(probed_union))
        .join(F.broadcast(ptab), "cell_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    adc = None
    for m in range(_PQ_M):
        term = F.element_at(
            F.element_at(F.col("tabs"), m + 1), F.col(f"c{m}") + 1
        )
        adc = term if adc is None else adc + term
    w = W.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    return (
        cand.select("probe_id", "vec_id", adc.alias("adc_d2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            "adc_d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def ivfpq_topk(
    em: DataFrame,
    cent: DataFrame,
    probe_ids: list[int],
    k: int = _ADC_TOPK,
    nprobe: int = _IVFPQ_NPROBE,
    cb: dict | None = None,
    enc: DataFrame | None = None,
    probe_rows: list | None = None,
    cents: list | None = None,
) -> DataFrame:
    """IVFADC core (Jégou et al. 2011 §IV; the FAISS IVFPQ index):
    coarse-quantize the corpus to `cent` cells AND PQ-encode every
    vector in the same projection, then for each probe score ONLY the
    vectors in its top-`nprobe` cells via 8 table lookups on the
    2-byte codes. Parameterized (like similarity.ivf_topk) so the
    planted-twin recall test drives the end-to-end path on its own
    corpus.

    Scale shape: the corpus pass is one broadcast-join assignment +
    row-local PQ encode (the ns_similarity_ann_ivf and
    ns_embedding_pq passes FUSED into a single projection — one scan,
    zero extra shuffle); probe→cell selection and distance tables are
    bounded driver work (|probes|·C dots + |probes|·M·K doubles);
    the ADC scan is _ivfpq_score_join at every probe count: a
    cell_id IN-set prefilter, then the broadcast probe-table join, so
    non-probed cells are never scored — at 100 TB with the corpus
    bucketed/partitioned by cell_id the same filter prunes whole
    files, which is exactly the inverted-list read a FAISS IVF index
    does.

    Pass `enc` (a materialized ivfpq_build_index frame, ideally
    partitioned by cell_id) to run the AMORTIZED query path — the
    build happens once, queries pay only the pruned scan; the
    cell_id isin-prefilter is a simple scan predicate there, so
    partition pruning skips non-probed files entirely
    (ns_ann_index_serve is that path, registered)."""
    if cb is None:
        cb = _pq_train_timed(em)
    if enc is None:
        # one fused corpus pass: coarse cell + PQ codes per vector
        enc = ivfpq_build_index(em, cent, cb)
    # bounded driver work: probe rows, centroid rows, per-probe cells.
    # A caller that already HOLDS the probe vectors (stream_ann_serve:
    # they arrive in the micro-batch) or the centroid rows passes them
    # in so serving never re-scans the corpus per batch.
    if probe_rows is None:
        probe_rows = em.filter(
            F.col("vec_id").isin([int(i) for i in probe_ids])
        ).collect()
    probes = sorted(probe_rows, key=lambda r: int(r.vec_id))
    if cents is None:
        cents = cent.orderBy("cent_id").collect()
    raw = _adc_tables({int(p.vec_id): p.embedding for p in probes}, cb)
    tables = {
        (int(p.vec_id), cell): raw[int(p.vec_id)]
        for p in probes
        for cell in _probe_top_cells(p.embedding, cents, nprobe)
    }
    return _ivfpq_score_join(enc, tables, k)


@query("ns_similarity_ivfpq", _ivfpq_sql())
def ns_similarity_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN index (FAISS IVFADC): IVF coarse
    cells prune the corpus to nprobe=2 probed cells, then PQ
    asymmetric-distance table lookups score ONLY those cells' codes —
    `ns_similarity_ann_ivf`'s pruning driving
    `ns_similarity_pq_adc`'s scan, the index a 100 TB embedding store
    actually serves (a query touches |corpus|·nprobe/C code bytes,
    never the vectors). Geometry is the shared conventions: centroids
    vec_id % 50 (capped _IVF_MAX_CELLS), probes vec_id < 5, the ONE
    _pq_train codebook, top-10 by (adc_d2, neighbor_id).

    Determinism: coarse assignment is the proven left-fold ranking
    (ns_similarity_ann_ivf's oracle CTEs verbatim); codes and tables
    are the proven PQ state (_pq_sql_prefix / _adc_tables_sql_ctes
    verbatim); only the probed-cell candidate join is new, and it is
    exact integer equality. Non-residual IVFADC variant: codes
    quantize the raw vectors, not x − centroid (Jégou §IV.B's IVFADC
    encodes residuals for tighter error; the residual encode is this
    same fused projection with one extra subtract and is deliberately
    NOT done here so the codes stay bit-shared with ns_embedding_pq).

    Scale: see ivfpq_topk — one fused corpus scan (assign + encode),
    bounded driver state, cell-gated ADC through the one broadcast
    probe-table join (_ivfpq_score_join, at every probe count),
    WindowGroupLimit top-k."""
    from .similarity import ivf_centroids

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    return ivfpq_topk(
        em, ivf_centroids(em), probe_ids=list(range(_ADC_N_PROBES))
    )


# ---------- residual IVFADC (Jégou et al. 2011 §IV.B) ----------


def ivf_residuals(em: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell_id, embedding = x − centroid(cell(x))) — the
    residual frame the FAISS-default IVFADC encodes. One broadcast
    re-join of the coarse assignment against the (bounded) centroid
    table + a row-local zip_with subtract: zero extra shuffle over
    the assignment pass itself. Element-wise double subtraction is
    exactly rounded, so DuckDB replays it bit-identically."""
    from .similarity import _ivf_assigned

    asg = _ivf_assigned(em, cent)  # vec_id, embedding, cell_id
    cmap = cent.select(F.col("cent_id").alias("cell_id"), "cent_emb")
    return asg.join(F.broadcast(cmap), "cell_id").select(
        "vec_id",
        "cell_id",
        F.zip_with(
            "embedding",
            "cent_emb",
            lambda a, b: a.cast("double") - b.cast("double"),
        ).alias("embedding"),
    )


def _ivfpq_residual_sql(probe_pred: str | None = None) -> str:
    """Oracle for the residual IVFADC: the coarse chain is
    _ivf_assign_sql_ctes VERBATIM; the PQ train/encode chain is
    _pq_sql_prefix VERBATIM over a new `resid` CTE (x − centroid,
    exact double subtraction); the distance tables are the residual
    twist — per (probe, probed cell), because the residual query
    q − centroid(cell) differs per cell (Jégou §IV.B). Candidate
    joins stay exact integer equality."""
    from .similarity import _ivf_assign_sql_ctes

    if probe_pred is None:
        probe_pred = f"vec_id < {_ADC_N_PROBES}"
    tpiv, adc = _adc_pivot_sql()
    rq = (
        f"(CAST(p.q[b.m * {_PQ_DSUB} + i.i] AS DOUBLE)"
        f" - CAST(ct.cent_emb[b.m * {_PQ_DSUB} + i.i] AS DOUBLE))"
    )
    sqq = f"({rq} - b.cc[i.i]) * ({rq} - b.cc[i.i])"
    return f"""
    WITH {_ivf_assign_sql_ctes(probe_pred=probe_pred)},
    resid AS (
      SELECT a.vec_id, a.cell_id,
             list(CAST(e.embedding[i.i] AS DOUBLE)
                  - CAST(c.cent_emb[i.i] AS DOUBLE)
                  ORDER BY i.i) AS embedding
      FROM assigned a
      JOIN embeddings e ON e.vec_id = a.vec_id
      JOIN cent c ON c.cent_id = a.cell_id
      CROSS JOIN idx i
      GROUP BY 1, 2
    ),
    {_pq_sql_prefix("resid")},
    probes AS (
      SELECT vec_id AS probe_id, embedding AS q
      FROM embeddings WHERE {probe_pred}
    ),
    rtt AS (
      SELECT pc.query_id AS probe_id, pc.cell_id, b.m, b.j,
             list_reduce(list({sqq} ORDER BY i.i), (a, b) -> a + b) AS t
      FROM probe_cells pc
      JOIN probes p ON p.probe_id = pc.query_id
      JOIN cent ct ON ct.cent_id = pc.cell_id
      CROSS JOIN cb b CROSS JOIN i8 i
      GROUP BY 1, 2, 3, 4
    ),
    cand AS (
      SELECT pc.query_id AS probe_id, pc.cell_id, a.vec_id
      FROM probe_cells pc JOIN assigned a ON a.cell_id = pc.cell_id
      WHERE a.vec_id != pc.query_id
    ),
    adcm AS (
      SELECT c.vec_id, c.probe_id, a.m, t.t
      FROM cand c
      JOIN a2 a ON a.vec_id = c.vec_id
      JOIN rtt t ON t.probe_id = c.probe_id AND t.cell_id = c.cell_id
                AND t.m = a.m AND t.j = a.cl
    ),
    piva AS (
      SELECT vec_id, probe_id, {tpiv}
      FROM adcm GROUP BY 1, 2
    ),
    scored AS (
      SELECT probe_id, vec_id, {adc} AS adc_d2
      FROM piva
    )
    SELECT probe_id, vec_id AS neighbor_id, adc_d2,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY probe_id ORDER BY adc_d2, vec_id
             ) AS rank
      FROM scored
    ) WHERE rank <= {_ADC_TOPK}
    """


def ivfpq_topk_residual(
    em: DataFrame,
    cent: DataFrame,
    probe_ids: list[int],
    k: int = _ADC_TOPK,
    nprobe: int = _IVFPQ_NPROBE,
) -> DataFrame:
    """Residual IVFADC (Jégou et al. 2011 §IV.B — the FAISS default):
    like ivfpq_topk, but the PQ codebook is trained on and encodes
    the RESIDUALS x − centroid(cell(x)) instead of the raw vectors.
    Residuals are centered near zero with far smaller spread than the
    raw corpus, so the same M·K codebook budget quantizes them with
    strictly lower error — the property test pins qerr(residual) <
    qerr(raw) and recall@10 ≥ the non-residual path on the planted
    fixture. The price: distance tables become per-(probe, cell)
    because the residual query differs per probed cell — table count
    |probes|·nprobe·M, still bounded driver work.

    Only the residual frame, its codebook and the per-(probe, cell)
    tables are this path's own; scoring and top-k are ivfpq_topk's
    _ivfpq_score_join, whose probe-table rows are keyed per (probe,
    cell) already. Scale shape: identical to ivfpq_topk (one fused
    corpus pass — the residual subtract is row-local on the
    assignment projection — bounded driver state, cell-gated ADC
    scan, WindowGroupLimit top-k); only the constant driver table
    work grows by ×nprobe."""
    from .registry import persist_evicting

    # the residual frame feeds THREE actions (pq_train's init collect
    # + means collect, then the encode in the final plan); without
    # the within-invocation persist each one re-ran the coarse
    # assignment + subtract (~0.6 s each at sf0.1 — guide §5)
    resid = persist_evicting(
        ivf_residuals(em, cent), "clustering.ivfpq_residual.resid"
    )
    cb = _pq_train_timed(resid.select("vec_id", "embedding"))
    # fused encode: the codes ride the SAME residual projection —
    # cell + codes in one pass, the ivfpq_build_index shape
    enc = resid.select(
        "vec_id",
        "cell_id",
        *[
            _pq_argmin(m, cb).getField("j").alias(f"c{m}")
            for m in range(_PQ_M)
        ],
    )
    probe_rows = em.filter(
        F.col("vec_id").isin([int(i) for i in probe_ids])
    ).collect()
    probes = sorted(probe_rows, key=lambda r: int(r.vec_id))
    cents = cent.orderBy("cent_id").collect()
    cent_by_id = {
        int(c.cent_id): [float(v) for v in c.cent_emb] for c in cents
    }
    tables = _adc_tables(
        {
            (int(p.vec_id), cell): [
                float(a) - b for a, b in zip(p.embedding, cent_by_id[cell])
            ]
            for p in probes
            for cell in _probe_top_cells(p.embedding, cents, nprobe)
        },
        cb,
    )
    return _ivfpq_score_join(enc, tables, k)


@query("ns_similarity_ivfpq_residual", _ivfpq_residual_sql())
def ns_similarity_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVFADC (Jégou et al. 2011 §IV.B, the FAISS
    IVFPQ default): identical coarse index and probe geometry to
    `ns_similarity_ivfpq`, but the PQ codes quantize x − centroid
    instead of x — tighter codes for the same byte budget, at the
    cost of per-(probe, cell) distance tables. Kept as a SEPARATE
    registered operator (rather than a flag flip) so both encodes
    stay driver-gated: the non-residual form shares its codes
    bit-exactly with ns_embedding_pq; this one is the
    production-accuracy variant.

    Determinism: residuals are exact double subtractions on both
    engines; everything else is the proven IVF + PQ fragment pairing
    (left-fold assignment dots, VARCHAR-routed decimal codebook
    means, (d2, j) argmin ties, exact-integer candidate joins).

    Scale: see ivfpq_topk_residual."""
    from .similarity import ivf_centroids

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    return ivfpq_topk_residual(
        em, ivf_centroids(em), probe_ids=list(range(_ADC_N_PROBES))
    )


# ---------- persisted-index ANN serving (the amortized read path) ----


# Build-once cache per (process, sf_dir, data fingerprint):
# {(abspath, fp): (index_path, cb)}. The serving operator's STEADY
# STATE is answering probes against an index that already exists —
# SCALING.md records this path's amortized-query decade; registering
# it makes the partition-pruned inverted-list read a
# driver-gated, plan-asserted operator (r12 verdict #3). An index
# refresh in production is a new directory + cache drop (blue/green),
# not a rebuild per query. The fingerprint (embeddings parquet
# mtime+size, r13 advice #3) invalidates the entry when the data at
# the SAME path is regenerated in-process (scale_check rebuilds) —
# without it the serve path would silently answer from a stale index
# AND a stale codebook. `drop_index_cache()` is the explicit hook.
_IVFPQ_IDX_CACHE: dict[tuple[str, tuple], tuple[str, dict]] = {}


def _emb_fingerprint(sf_dir: str) -> tuple:
    """Cheap change detector for {sf_dir}/embeddings.parquet: sorted
    (relpath, mtime_ns, size) of the file or of every file under the
    directory. Stat-only — never reads data."""
    import os

    p = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isfile(p):
        st = os.stat(p)
        return ((os.path.basename(p), st.st_mtime_ns, st.st_size),)
    out = []
    for root, _dirs, files in os.walk(p):
        for f in sorted(files):
            fp = os.path.join(root, f)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, p), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def drop_index_cache(sf_dir: str | None = None) -> None:
    """Evict persisted-index cache entries (all, or one sf_dir) — the
    blue/green cache-drop hook for fixture-regeneration paths.
    Covers both the single-index cache and the generation cache."""
    import os

    if sf_dir is None:
        _IVFPQ_IDX_CACHE.clear()
        _ANN_GEN_CACHE.clear()
        return
    key = os.path.abspath(sf_dir)
    for cache in (_IVFPQ_IDX_CACHE, _ANN_GEN_CACHE):
        for k in [k for k in cache if k[0] == key]:
            del cache[k]


def ivfpq_persisted_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict, DataFrame, DataFrame]:
    """(enc, cb, cent, em) with `enc` read back from a parquet index
    MATERIALIZED PARTITIONED BY cell_id — the on-disk inverted lists.
    Built once per process per sf_dir; subsequent calls only pay the
    (pruned) scan. The build phase is recorded under
    perf.TIMERS['ns_ann_index_serve.build'] so the bench artifact can
    separate it from steady-state serving."""
    import os

    from .. import perf
    from ..scratch import SCRATCH
    from .similarity import ivf_centroids

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    cent = ivf_centroids(em)
    key = (os.path.abspath(sf_dir), _emb_fingerprint(sf_dir))
    if key not in _IVFPQ_IDX_CACHE:
        # same path, new data → stale generation: drop it so the
        # index directory is rebuilt (blue/green swap in-process)
        drop_index_cache(sf_dir)
        with perf.timed("ns_ann_index_serve.build"):
            cb = _pq_train(em)
            path = os.path.join(
                SCRATCH, "ivfpq_idx", key[0].strip("/").replace("/", "_")
            )
            # cluster by the partition column before the dynamic-
            # partition write (guide §6): one shuffle of the SKINNY
            # code rows ⇒ ONE file per inverted list instead of
            # tasks×cells fragments (measured 4.1 → 1.6 s and 1013 →
            # 40 files at sf0.1; pruned serve reads open fewer files)
            ivfpq_build_index(em, cent, cb).repartition(
                "cell_id"
            ).write.mode("overwrite").partitionBy("cell_id").parquet(path)
            _IVFPQ_IDX_CACHE[key] = (path, cb)
    path, cb = _IVFPQ_IDX_CACHE[key]
    return spark.read.parquet(path), cb, cent, em


@query("ns_ann_index_serve", _ivfpq_sql())
def ns_ann_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The amortized IVFADC read path: answer the standard vec_id<5
    probes against the PERSISTED cell-partitioned index instead of
    re-encoding the corpus per query. cell_id is the index's
    PARTITION column, so ivfpq_topk's probed-cell isin prefilter
    becomes a partition filter on the scan — whole non-probed
    directories are skipped (the FAISS inverted-list read), which
    PLANCHECK pins as a plan property. This is the operator a serving
    tier actually runs per query; `ns_similarity_ivfpq` (build +
    query fused) remains the one-shot/batch form.

    Oracle: identical to ns_similarity_ivfpq — the parquet roundtrip
    of integer codes and cell ids is exact, and the ADC tables are
    the same driver doubles, so serving from the index returns
    bit-identical rows to the inline build.

    Scale: the per-query cost is |probed cells|/C of the index scan
    (code bytes only, never the vectors) + bounded driver state; the
    build amortizes across every query served from the same
    generation."""
    enc, cb, cent, em = ivfpq_persisted_index(spark, sf_dir)
    probe_ids = list(range(_ADC_N_PROBES))
    probe_rows = em.filter(
        F.col("vec_id").isin([int(i) for i in probe_ids])
    ).collect()
    return ivfpq_topk(
        em,
        cent,
        probe_ids=probe_ids,
        cb=cb,
        enc=enc,
        probe_rows=probe_rows,
    )


# ---------- blue/green index refresh (generation swap) ----------

# The delta slice: vec_id % 10 == _ANN_DELTA_MOD (10% of the corpus)
# plays "vectors that arrived after generation 1 was built". Probes
# are vec_id < 5, all ∉ delta, so both generations can answer them.
_ANN_DELTA_MOD = 7

# {(abspath(sf_dir), fingerprint): generation state} — the same
# build-once-per-(process, data) contract as _IVFPQ_IDX_CACHE.
_ANN_GEN_CACHE: dict[tuple, dict] = {}


def ann_index_generations(spark: SparkSession, sf_dir: str) -> dict:
    """Blue/green ANN index lifecycle (r13 verdict #4): build
    generation 1 over the BASE corpus (delta slice held out), then
    'receive' the delta and build generation 2 over base ∪ delta in
    its OWN directory — generation 1 is never touched (the
    reference's idempotent partition re-landing discipline,
    HiveBatchedSink.scala:177-227: a new landing never mutates the
    old files) — and atomically advance the CURRENT pointer
    (os.replace) only after the new generation is fully written. A
    serving tier reading through the pointer sees G1 answers until
    the instant of swap, G2 answers after; G1 stays servable
    throughout (pinned by test_ann_refresh_old_generation_servable).
    Returns {root, gens: {1|2: {path, cb, base_only}}, current}."""
    import os

    from .. import perf
    from ..scratch import SCRATCH

    key = (os.path.abspath(sf_dir), _emb_fingerprint(sf_dir))
    if key in _ANN_GEN_CACHE:
        return _ANN_GEN_CACHE[key]
    from .similarity import ivf_centroids

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    root = os.path.join(
        SCRATCH, "ivfpq_gen", key[0].strip("/").replace("/", "_")
    )
    base = em.filter(F.col("vec_id") % 10 != _ANN_DELTA_MOD)
    gens: dict[int, dict] = {}
    with perf.timed("ns_ann_index_refresh.build"):
        for g, frame, base_only in ((1, base, True), (2, em, False)):
            cb = _pq_train(frame)
            path = os.path.join(root, f"g{g}")
            # cluster-by-cell before the write (see
            # ivfpq_persisted_index): 1 file per inverted list
            ivfpq_build_index(
                frame, ivf_centroids(frame), cb
            ).repartition("cell_id").write.mode(
                "overwrite"
            ).partitionBy("cell_id").parquet(path)
            gens[g] = {"path": path, "cb": cb, "base_only": base_only}
            # pointer swap strictly AFTER the generation is durable
            tmp = os.path.join(root, "CURRENT.tmp")
            with open(tmp, "w") as f:
                f.write(str(g))
            os.replace(tmp, os.path.join(root, "CURRENT"))
    state = {"root": root, "gens": gens, "current": 2}
    _ANN_GEN_CACHE[key] = state
    return state


def ann_serve_generation(
    spark: SparkSession, sf_dir: str, gen: int | None = None
) -> DataFrame:
    """Answer the standard vec_id<5 probes against one index
    generation (default: whatever the CURRENT pointer names) — the
    same pruned inverted-list read as ns_ann_index_serve, against
    the generation's own directory/codebook/centroids."""
    import os

    from .similarity import ivf_centroids

    st = ann_index_generations(spark, sf_dir)
    if gen is None:
        with open(os.path.join(st["root"], "CURRENT")) as f:
            gen = int(f.read())
    info = st["gens"][gen]
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    frame = (
        em.filter(F.col("vec_id") % 10 != _ANN_DELTA_MOD)
        if info["base_only"]
        else em
    )
    probe_ids = list(range(_ADC_N_PROBES))
    probe_rows = em.filter(
        F.col("vec_id").isin([int(i) for i in probe_ids])
    ).collect()
    return ivfpq_topk(
        frame,
        ivf_centroids(frame),
        probe_ids=probe_ids,
        cb=info["cb"],
        enc=spark.read.parquet(info["path"]),
        probe_rows=probe_rows,
    )


@query("ns_ann_index_refresh", _ivfpq_sql())
def ns_ann_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The build→serve→REFRESH closure (r13 verdict #4): generation 1
    is built over the corpus minus a 10% delta slice and served; the
    delta then 'arrives', generation 2 is built blue/green over the
    unioned corpus in a fresh directory, and the CURRENT pointer
    swaps atomically. This operator returns the post-swap serve —
    probes answered through the pointer against generation 2 — and
    its oracle is the UNCHANGED batch IVFADC chain over the full
    corpus (_ivfpq_sql verbatim): a hash match proves a
    refresh-then-serve is indistinguishable from a from-scratch
    build over base+delta, which is exactly the invariant a serving
    tier needs to trust rolling refreshes. Generation 1 remains
    byte-identical and servable until (and after) the swap —
    property-tested, with its answers matching the inline IVFADC
    over the base corpus alone.

    Scale: two builds here because the operator must DEMONSTRATE the
    lifecycle end to end; production pays one build per refresh
    (amortized exactly like ns_ann_index_serve, whose fingerprint
    cache this shares) + the pointer swap, and serving cost is the
    same partition-pruned inverted-list read at every generation."""
    return ann_serve_generation(spark, sf_dir)

_RRF_K0 = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_TOPK = 10


def _rrf_sql() -> str:
    """Oracle: both input rankings replayed VERBATIM from their
    proven fragments (_cosine_ranked_sql_ctes for the exact list,
    _pq_sql_prefix + _adc_tables_sql_ctes + _adc_pivot_sql for the
    ADC list); only the fusion arithmetic is new."""
    from .similarity import _cosine_ranked_sql_ctes

    tpiv, adc = _adc_pivot_sql()
    rrf = (
        f"(CASE WHEN rank_cos IS NULL THEN CAST(0.0 AS DOUBLE)"
        f" ELSE CAST(1.0 AS DOUBLE)"
        f" / CAST({_RRF_K0} + rank_cos AS DOUBLE) END"
        f" + CASE WHEN rank_adc IS NULL THEN CAST(0.0 AS DOUBLE)"
        f" ELSE CAST(1.0 AS DOUBLE)"
        f" / CAST({_RRF_K0} + rank_adc AS DOUBLE) END)"
    )
    return f"""
    WITH {_cosine_ranked_sql_ctes()},
    {_pq_sql_prefix()},
    {_adc_tables_sql_ctes()},
    adcm AS (
      SELECT a.vec_id, t.probe_id, a.m, t.t
      FROM a2 a JOIN tt t ON t.m = a.m AND t.j = a.cl
    ),
    piva AS (
      SELECT vec_id, probe_id, {tpiv}
      FROM adcm GROUP BY 1, 2
    ),
    adc_scored AS (
      SELECT probe_id, vec_id, {adc} AS adc_d2
      FROM piva WHERE vec_id != probe_id
    ),
    adc_ranked AS (
      SELECT probe_id, vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY probe_id ORDER BY adc_d2, vec_id
             ) AS rank
      FROM adc_scored
    ),
    fused AS (
      SELECT COALESCE(a.query_id, b.probe_id) AS probe_id,
             COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
             a.rn AS rank_cos, b.rank AS rank_adc
      FROM (SELECT * FROM cos_ranked WHERE rn <= {_RRF_TOPK}) a
      FULL OUTER JOIN
           (SELECT * FROM adc_ranked WHERE rank <= {_RRF_TOPK}) b
        ON a.query_id = b.probe_id AND a.neighbor_id = b.neighbor_id
    ),
    rrf AS (
      SELECT probe_id, neighbor_id, {rrf} AS rrf,
             rank_cos, rank_adc
      FROM fused
    )
    SELECT probe_id, neighbor_id, rrf,
           CAST(rank_cos AS BIGINT) AS rank_cos,
           CAST(rank_adc AS BIGINT) AS rank_adc,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY probe_id ORDER BY rrf DESC, neighbor_id
             ) AS rank
      FROM rrf
    ) WHERE rank <= {_RRF_TOPK}
    """


@query("ns_rank_fusion_rrf", _rrf_sql())
def ns_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, k0=60) of two
    retrieval lists for the shared vec_id<5 probes: the EXACT cosine
    top-10 (`cosine_ranked`, ns_similarity_topk's chain) and the PQ
    ADC top-10 (`ns_similarity_pq_adc`'s output) — the standard way
    production search fuses heterogeneous rankings (lexical+vector,
    exact+approximate) without calibrating their scores: rrf =
    Σ 1/(k0 + rank), summed over the lists that retrieved the pair.

    Determinism: ranks are the components' proven (score, id)-
    tiebroken integers; each reciprocal is one int→double division;
    the two-term sum is a fixed-shape expression (missing list → the
    exact 0.0 literal, never NULL poisoning); final order (rrf DESC,
    neighbor_id).

    Scale: both inputs end k·|probes| rows (50 here) regardless of
    corpus size, so the fusion join + re-rank is driver-trivial and
    constant-cost — the corpus is touched only inside the component
    rankings, each with its own audited scale shape."""
    from .similarity import cosine_ranked

    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    cos = cosine_ranked(em, _RRF_TOPK).select(
        F.col("query_id").alias("probe_id"),
        "neighbor_id",
        F.col("rn").alias("rank_cos"),
    )
    adc = ns_similarity_pq_adc(spark, sf_dir).select(
        "probe_id", "neighbor_id", F.col("rank").alias("rank_adc")
    )
    fused = cos.join(adc, ["probe_id", "neighbor_id"], "full_outer")
    term = lambda c: F.when(  # noqa: E731
        F.col(c).isNull(), F.lit(0.0)
    ).otherwise(
        F.lit(1.0) / (F.lit(_RRF_K0) + F.col(c)).cast("double")
    )
    scored = fused.select(
        "probe_id",
        "neighbor_id",
        (term("rank_cos") + term("rank_adc")).alias("rrf"),
        F.col("rank_cos").cast("bigint").alias("rank_cos"),
        F.col("rank_adc").cast("bigint").alias("rank_adc"),
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("probe_id").orderBy(F.desc("rrf"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _RRF_TOPK)
        .select(
            "probe_id", "neighbor_id", "rrf",
            "rank_cos", "rank_adc",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------- power-iteration PCA over the embedding corpus ----------

# Fixed 2-iteration oracle geometry (the kmeans/BPE precedent:
# production loops to convergence; the registered form pins the
# round count so the DuckDB twin can replay it CTE by CTE).
_PCA_ITERS = 2
_PCA_DEC = "decimal(25,12)"  # row-local fold scale (similarity._DEC)


def _pca_iter_sql(prev_v: str, it: int) -> str:
    """CTEs for one power iteration against direction table
    `{prev_v}(dim, v)`: per-vector centered projection s{it}, per-dim
    exact corpus sum y{it} (→ q = y/n), left-fold norm, normalized
    v{it}(dim, v)."""
    return f"""
    s{it} AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(CAST(
                    (CAST(e.embedding[m.dim] AS DOUBLE) - m.mu) * v.v
                    AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM embeddings e
      CROSS JOIN mu m
      JOIN {prev_v} v ON v.dim = m.dim
      GROUP BY 1
    ),
    y{it} AS (
      SELECT m.dim,
             CAST(SUM(CAST(CAST(
                    s{it}.s * (CAST(e.embedding[m.dim] AS DOUBLE) - m.mu)
                    AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE)
               / (SELECT n FROM nn) AS q
      FROM embeddings e
      JOIN s{it} ON s{it}.vec_id = e.vec_id
      CROSS JOIN mu m
      GROUP BY 1
    ),
    y{it}n AS (
      SELECT sqrt(list_reduce(list(q * q ORDER BY dim),
                              (a, b) -> a + b)) AS nrm
      FROM y{it}
    ),
    v{it} AS (
      SELECT dim, q / (SELECT nrm FROM y{it}n) AS v FROM y{it}
    )"""


def _pca_sql() -> str:
    return f"""
    WITH i64 AS (SELECT unnest(range(1, 65)) AS i),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    mu AS (
      SELECT i.i AS dim,
             CAST(SUM(CAST(CAST(CAST(e.embedding[i.i] AS DOUBLE)
                      AS VARCHAR) AS DECIMAL(28,12))) AS DOUBLE)
               / (SELECT n FROM nn) AS mu
      FROM embeddings e CROSS JOIN i64 i
      GROUP BY 1
    ),
    x0 AS (SELECT embedding AS x FROM embeddings ORDER BY vec_id LIMIT 1),
    v0r AS (
      SELECT m.dim, CAST(x.x[m.dim] AS DOUBLE) - m.mu AS v
      FROM x0 x CROSS JOIN mu m
    ),
    v0n AS (
      SELECT sqrt(list_reduce(list(v * v ORDER BY dim),
                              (a, b) -> a + b)) AS nrm
      FROM v0r
    ),
    v0 AS (SELECT dim, v / (SELECT nrm FROM v0n) AS v FROM v0r),
    {_pca_iter_sql("v0", 1)},
    {_pca_iter_sql("v1", 2)}
    SELECT e.vec_id,
           CAST(SUM(CAST(CAST(
                  (CAST(e.embedding[m.dim] AS DOUBLE) - m.mu) * v.v
                  AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE) AS pc1
    FROM embeddings e
    CROSS JOIN mu m
    JOIN v2 v ON v.dim = m.dim
    GROUP BY 1
    """


def _pca_center_dot(mu: list[float], v: list[float]) -> Column:
    """Exact-decimal fold Σ_d (x_d − μ_d)·v_d against literal μ/v —
    row-local, the _dot_dec convention (per-element double arithmetic,
    decimal-exact order-free sum, double out)."""
    mu_arr = F.array(*[F.lit(m) for m in mu])
    v_arr = F.array(*[F.lit(w) for w in v])
    centered = F.zip_with(
        F.col("embedding"), mu_arr, lambda x, m: x.cast("double") - m
    )
    prods = F.zip_with(centered, v_arr, lambda c, w: (c * w).cast(_PCA_DEC))
    return F.aggregate(
        prods,
        F.lit(0).cast(_PCA_DEC),
        lambda acc, p: (acc + p).cast(_PCA_DEC),
    ).cast("double")


def _pca_normalize(q: list[float]) -> list[float]:
    """q / ||q|| with the norm as a DIM-ORDER left fold of doubles —
    bit-identical to the oracle's list_reduce(list(q*q ORDER BY dim))
    (left folds of identical doubles agree; the corpus-sized sums
    that PRODUCE q are exact decimals, so order never enters there)."""
    import math

    acc = 0.0
    for x in q:
        acc = acc + x * x
    # math.sqrt is the IEEE-correctly-rounded sqrt the oracle's
    # sqrt() uses; `** 0.5` routes through libm pow, which is not
    # guaranteed correctly rounded for exponent 0.5 on every platform
    nrm = math.sqrt(acc)
    return [x / nrm for x in q]


@query("ns_embedding_pca", _pca_sql())
def ns_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by POWER
    ITERATION (2 fixed rounds), emitting each vector's pc1 score —
    the compression/whitening/drift-axis pass an embedding pipeline
    runs beside k-means and PQ (pc1 is the axis PQ/IVF cells stretch
    along; SemDeDup's paper prunes along exactly this direction).
    v_{k+1} = C·v_k / ‖C·v_k‖ without ever materializing the 64×64
    covariance: C·v = Σ_i (x_i−μ)·((x_i−μ)ᵀv)/n, one corpus pass per
    iteration. Init v0 = x_min_id − μ normalized (deterministic, no
    RNG — the kmeans c0 convention).

    Determinism: μ and every corpus-sized sum ride the VARCHAR-routed
    exact decimal (order-free); per-row projections are the _dot_dec
    decimal fold; the ONLY ordered float sums are the 64-element
    norm folds, replayed as dim-order left folds on both engines
    (list_reduce ≡ the Python loop over identical doubles);
    normalization/division are single IEEE ops. Degenerate corpora
    (zero variance) would 0-divide — outside the contract, like
    bpe's _require_rounds.

    Scale: 1 + _PCA_ITERS corpus passes (means, then one per
    iteration), each a row-local projection into a 64-key map-side-
    combined aggregate (the ns_embedding_profile shape — a 64-row
    shuffle regardless of corpus size) plus one bounded 64-value
    collect; the returned plan is ONE row-local fold against 128
    literals, zero joins/shuffles. Production would lift the
    iteration cap and checkpoint v between rounds exactly like
    kmeans; per-iteration cost is a single scan."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    n = em.count()
    ex = em.select(F.posexplode("embedding").alias("pos", "val")).select(
        (F.col("pos") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    mu_rows = (
        ex.groupBy("dim")
        .agg(
            F.sum(F.col("val").cast("decimal(28,12)"))
            .cast("double")
            .alias("sv")
        )
        .collect()
    )
    mu = [0.0] * 64
    for r in mu_rows:
        mu[r.dim - 1] = r.sv / n
    x0 = em.orderBy("vec_id").limit(1).collect()[0].embedding
    v = _pca_normalize([float(x0[d]) - mu[d] for d in range(64)])
    for _it in range(_PCA_ITERS):
        s = em.select(
            "vec_id",
            "embedding",
            _pca_center_dot(mu, v).alias("s"),
        )
        mu_arr = F.array(*[F.lit(m) for m in mu])
        centered = F.zip_with(
            F.col("embedding"), mu_arr, lambda x, m: x.cast("double") - m
        )
        y_rows = (
            s.select("s", F.posexplode(centered).alias("pos", "c"))
            .select(
                (F.col("pos") + 1).alias("dim"),
                (F.col("s") * F.col("c")).cast("decimal(28,12)").alias("p"),
            )
            .groupBy("dim")
            .agg(F.sum("p").cast("double").alias("y"))
            .collect()
        )
        q = [0.0] * 64
        for r in y_rows:
            q[r.dim - 1] = r.y / n
        v = _pca_normalize(q)
    return em.select(
        "vec_id", _pca_center_dot(mu, v).alias("pc1")
    )


# ---------- distributed linear probe (in-engine gradient descent) ----------

_LP_LR = 0.125  # exact binary learning rate
_LP_ITERS = 3
_LP_DIM = 64

_LP_DEC = (
    "CAST(SUM(CAST(CAST({expr} AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE)"
)


def _lp_sql() -> str:
    """Unrolled 3-iteration batch gradient descent: prediction and
    gradient CTEs per round, VARCHAR-routed exact-decimal sums (the
    _SQL_DOT convention), every weight update the identical scalar
    double expression Spark computes."""
    ctes = [
        f"""ex AS (
      SELECT e.vec_id, CAST(e.label AS DOUBLE) AS y, i.i AS dim,
             CAST(e.embedding[i.i] AS DOUBLE) AS v
      FROM embeddings e,
           (SELECT unnest(range(1, {_LP_DIM + 1})) AS i) i
    )""",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)",
        f"""w0 AS (
      SELECT i.i AS dim, 0.0 AS w
      FROM (SELECT unnest(range(1, {_LP_DIM + 1})) AS i) i
    )""",
    ]
    for t in range(1, _LP_ITERS + 2):
        pred = _LP_DEC.format(expr="ex.v * w.w")
        ctes.append(f"""p{t} AS (
      SELECT ex.vec_id, MAX(ex.y) AS y, {pred} AS pred
      FROM ex JOIN w{t - 1} w ON w.dim = ex.dim
      GROUP BY ex.vec_id
    )""")
        if t > _LP_ITERS:
            break
        grad = _LP_DEC.format(expr="(p.pred - p.y) * ex.v")
        ctes.append(f"""g{t} AS (
      SELECT ex.dim, {grad} AS g
      FROM ex JOIN p{t} p ON p.vec_id = ex.vec_id
      GROUP BY ex.dim
    )""")
        ctes.append(f"""w{t} AS (
      SELECT w.dim, w.w - {_LP_LR} * (2.0 * g.g / nn.n) AS w
      FROM w{t - 1} w JOIN g{t} g ON g.dim = w.dim CROSS JOIN nn
    )""")
    # the mse sum reaches ~1e4, so at scale 12 the exact decimal
    # total would carry 17 significant digits — past the range where
    # decimal→double casts round identically in both engines (the
    # 1-ulp divergence r14 measured). The dsum scale-6 convention
    # keeps the total within exact double range; term magnitudes
    # (err² ≲ 100) lose nothing that matters to a probe metric.
    ctes.append(f"""mse AS (
      SELECT CAST(SUM(CAST((pred - y) * (pred - y) AS DECIMAL(28,6)))
                  AS DOUBLE) / MAX(nn.n) AS mse
      FROM p{_LP_ITERS + 1} CROSS JOIN nn
    )""")
    return f"""
    WITH {','.join(ctes)}
    SELECT w.dim, w.w AS weight, mse.mse AS train_mse
    FROM w{_LP_ITERS} w CROSS JOIN mse
    """


@query("ns_linear_probe", _lp_sql())
def ns_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear probe trained IN-ENGINE by batch gradient descent —
    the standard embedding-quality evaluation (how linearly decodable
    is a target from the representation), run as {it} synchronous GD
    rounds: the weight vector is BOUNDED driver state (64 doubles,
    the Lloyd-centroid pattern), each round is ONE corpus scan that
    computes every prediction w·x row-locally against the current
    weights as literals and reduces the full-batch least-squares
    gradient (2/n)Σ r·x to a single 64-column map-side-combined
    aggregate collected as one row, and the update w ← w − lr·grad
    is driver arithmetic on those 64 scalars. Emits the final 64
    weights + training MSE. Same harness shape as kmeans_assign —
    fixed small round count, bounded driver-side state, one
    distributed pass per round (target: label as a regression
    surrogate; a production probe swaps in any numeric column).

    Determinism: predictions and gradients are UNORDERED
    exact-decimal sums of row-level IEEE products (VARCHAR-routed in
    the oracle, the _SQL_DOT convention); the update arithmetic is
    the identical scalar expression both engines evaluate on
    bit-equal inputs, so all {it} rounds replay exactly — the oracle
    unrolls them CTE by CTE.

    Scale (optimization-round shape, guide §2.3/§2.4): the weight
    vector is BOUNDED driver state (64 doubles — the Lloyd-centroid
    pattern kmeans_assign/_pq_train already use), so each GD round is
    ONE corpus scan: predictions are a row-local exact-decimal fold
    of the embedding against the current weights as literals (the
    _dot_dec convention — decimal adds are exact, hence order-free,
    so the fold equals the old explode+groupBy sum bit-for-bit), and
    the gradient is a single 64-column map-side-combined aggregate
    collected as one row. Shuffle traffic per round: 64 decimal
    partials per task — nothing else. The previous form exploded the
    corpus to |vecs|*64 rows, persisted it, and per round paid a
    broadcast join + a vec-keyed aggregate + a vec-keyed join +
    a dim-keyed aggregate (two corpus-sized Exchanges per round);
    plan evidence in plans/r14/ns_linear_probe_{{before,after}}.txt."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    n = em.count()  # bounded scalar
    dec = "decimal(38,12)"
    # fold accumulator precision: 25, NOT 38 — adding two (38,12)
    # decimals overflows precision 38 and Spark's allowPrecisionLoss
    # silently drops the result to scale 11 (rounding every step at
    # 1e-11); at (25,12) every add stays exact and the scale-12
    # per-term quantization is identical, so the fold reproduces the
    # unordered (38,12) Sum bit-for-bit (the _dot_dec convention).
    # Numeric-range note (r14 advice #3): (25,12) caps each product
    # and partial sum at ~1e13 (the (38,12) SUM allowed ~1e26); under
    # ANSI mode an overflow throws mid-query. Domain is bounded far
    # below that by the pinned [-1,1]-ish 64-dim embedding fixtures
    # and lr=~1e-2 weights (|w·x| ≪ 1e4); a production target column
    # with |y|≫1e10 would need the wider accumulator back.
    fdec = "decimal(25,12)"

    def pred_col(w: list[float]) -> Column:
        # row-local w·x with literal weights: per-element double
        # multiply cast to exact decimal, exact decimal fold — the
        # same addend set the oracle's unordered SUM adds, so the
        # value is bit-identical regardless of order.
        wl = F.array(*[F.lit(x) for x in w])
        prods = F.zip_with(
            F.col("embedding"),
            wl,
            lambda v, ww: (v.cast("double") * ww).cast(fdec),
        )
        return F.aggregate(
            prods,
            F.lit(0).cast(fdec),
            lambda acc, p: (acc + p).cast(fdec),
        ).cast("double")

    w = [0.0] * _LP_DIM
    for _ in range(_LP_ITERS):
        scored = em.select(
            F.col("label").cast("double").alias("y"),
            "embedding",
            pred_col(w).alias("pred"),
        )
        r = F.col("pred") - F.col("y")
        # gradient via posexplode + ONE dim-keyed decimal sum instead
        # of a 64-column wide aggregate (the kmeans_assign means fix,
        # guide §1.2): the wide form's 64 agg expressions each embed
        # the residual subexpression — r (and with it the pred fold)
        # re-evaluated per column per row — while the explode form
        # computes r once per row and carries it. Bit-identical:
        # per-dim decimal(38,12) sums over the same (r · x_i)
        # addends, same double casts, same driver update arithmetic.
        grows = (
            scored.select(
                r.alias("r"), F.posexplode("embedding").alias("dim", "v")
            )
            .groupBy("dim")
            .agg(
                F.sum(
                    (F.col("r") * F.col("v").cast("double")).cast(dec)
                )
                .cast("double")
                .alias("g")
            )
            .collect()
        )  # bounded 64-value collect (the Lloyd pattern)
        g_by_dim = {int(row.dim): float(row.g) for row in grows}
        w = [
            w[i] - _LP_LR * (2.0 * g_by_dim[i] / n)
            for i in range(_LP_DIM)
        ]
    err = F.col("pred") - F.col("y")
    mse = float(
        em.select(
            F.col("label").cast("double").alias("y"),
            pred_col(w).alias("pred"),
        )
        .agg(
            (
                F.sum((err * err).cast("decimal(28,6)")).cast("double")
                / F.lit(n)
            ).alias("m")
        )
        .collect()[0]["m"]
    )  # bounded 1-value collect (the hybrid_prf precedent)
    return local_frame(
        spark,
        [(d, w[d - 1], mse) for d in range(1, _LP_DIM + 1)],
        "dim bigint, weight double, train_mse double",
    )


ns_linear_probe.__doc__ = ns_linear_probe.__doc__.format(it=_LP_ITERS)


# ---------- nearest-centroid classifier eval ----------


@query(
    "ns_centroid_classifier",
    """
    WITH ex AS (
      SELECT e.vec_id, e.label, i.i AS dim,
             CAST(e.embedding[i.i] AS DOUBLE) AS v
      FROM embeddings e, (SELECT unnest(range(1, 65)) AS i) i
    ),
    cent AS (
      SELECT label, dim,
             CAST(SUM(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12)))
                  AS DOUBLE) / COUNT(*) AS c
      FROM ex GROUP BY 1, 2
    ),
    d2 AS (
      SELECT ex.vec_id, ex.label AS true_label, cent.label AS cand,
             CAST(SUM(CAST(CAST((ex.v - cent.c) * (ex.v - cent.c)
                                AS VARCHAR) AS DECIMAL(38,12)))
                  AS DOUBLE) AS dist2
      FROM ex JOIN cent ON cent.dim = ex.dim
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT vec_id, true_label, cand AS pred_label
      FROM (
        SELECT vec_id, true_label, cand, dist2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cand) AS rn
        FROM d2
      ) t WHERE rn = 1
    )
    SELECT CAST(true_label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN pred_label = true_label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS accuracy
    FROM pred GROUP BY 1
    """,
)
def ns_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification eval over the
    embedding corpus — the second standard representation-quality
    probe beside ns_linear_probe: per-label centroids are fit on the
    corpus, every vector is assigned to its nearest centroid
    (squared-L2, ties broken by label), and per TRUE label the row
    count, correct count, and accuracy are emitted. A label whose
    accuracy is near chance has embeddings that do not separate —
    the per-slice signal that decides re-encoding before a 100 TB
    similarity-search build (same read as ns_embedding_drift, but
    DISCRIMINATIVE rather than distributional).

    Determinism: centroids are exact-decimal sums / integer counts
    (one double division per coordinate); per-(vector, candidate)
    distances are unordered exact-decimal sums of IEEE squared
    diffs; the argmin ranks bit-equal doubles with a label
    tiebreak; final counts are integers and accuracy one division.

    Scale: the distance join fans each exploded row by |labels|
    (centroid frame is 64·|labels| rows, broadcast); shuffles are
    keyed on (vec, candidate) then vec — the same bounded-fanout
    shape as the kmeans assignment join, never all-pairs."""
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    ex = em.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    cent = ex.groupBy(F.col("label").alias("cand"), "dim").agg(
        (
            F.sum(F.col("v").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    d2 = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy(
            "vec_id", F.col("label").alias("true_label"), "cand"
        )
        .agg(
            F.sum(
                ((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")))
                .cast("decimal(38,12)")
            )
            .cast("double")
            .alias("dist2")
        )
    )
    from pyspark.sql.window import Window as W

    pred = (
        d2.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy("dist2", "cand")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("true_label", F.col("cand").alias("pred_label"))
    )
    hit = F.when(
        F.col("pred_label") == F.col("true_label"), 1
    ).otherwise(0)
    return pred.groupBy(
        F.col("true_label").cast("bigint").alias("label")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        (F.sum(hit).cast("double") / F.count("*")).alias("accuracy"),
    )
