"""[NS] — model-based corpus curation (the r9 additions).

The four operators modern LLM data pipelines run between "clean text"
and "training shards", each re-expressed Spark-first and each with an
exact DuckDB twin:

- `ns_quality_perplexity`: CCNet-shape LM filtering — train an
  add-one-smoothed bigram LM on a reference slice, score every doc's
  avg negative log-likelihood, flag high-NLL docs. (CCNet filters on
  a wikipedia-trained KenLM; the engine keeps the exact pipeline
  shape — n-gram counting pass, model join, per-doc NLL — with the
  LM order reduced to bigrams so the oracle can replay it.)
- `ns_sample_importance`: DSIR-shape importance resampling — hashed
  unigram features, per-feature log-likelihood-ratio between a target
  slice and the raw pool, per-doc importance log-weight, keep flag.
- `ns_dedup_bloom`: bloom-filter incremental chunk dedup with exact
  false-positive accounting (the cheap pre-screen ahead of
  ns_dedup_incremental's exact index probe).
- `ns_cluster_kmeans` / `ns_semdedup` (clustering.py): fixed-iteration
  Lloyd over the embedding corpus, and SemDeDup within-cluster cosine
  near-dup pruning on top of it.
- `ns_sample_weighted_topk`: exact-size weighted sampling without
  replacement (Efraimidis-Spirakis exponential race keys).
- `ns_split_group_folds`: leakage-safe k-fold assignment keyed by the
  dedup family's canonical group key, with the naive-split leak audit.
- `ns_quality_entropy`: unigram Shannon-entropy diversity signal (the
  third det_ln consumer).
- `ns_html_extract`: web-markup extraction with a planted-malformed
  roundtrip audit (pipeline step zero).

Cross-engine determinism: every score is a sum of natural logs of
INTEGER counts, computed with `registry.det_ln_int` — the
range-reduced truncated-atanh series both engines evaluate
bit-identically (native ln() differs by 1 ulp on ~1% of inputs; see
registry.py). Sums go through the usual exact-decimal `dsum`.

Reference parity: the reference (a Flume→Hive ETL sink) has no
model-based curation surface; these are [NS] north-star rows per
SURVEY §2 Part B / BASELINE.json. Closest reference seam is the
pluggable serde classloader (HiveBatchedSink.scala:244-257) — the
"bring your own scorer" extension point these operators standardize.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .registry import (
    det_ln_int,
    dsum,
    hex_int,
    query,
    sql_det_ln_ctes,
    sql_dsum,
    sql_hex_int,
    tbl,
)

# ---------- bigram-LM perplexity filter (CCNet shape) ----------

# Reference slice the LM is trained on (a "known-good corpus" stand-in,
# like CCNet's wikipedia). src1 is arbitrary but FIXED: the whole point
# of the filter is that every engine scores against the same model.
_PPL_REF_SOURCE = "src1"
# NLL threshold (nats/token): ln-perplexity above this flags the doc.
# Sits inside the observed spread (sf0.001/0.01/0.1 all span ~3.0-3.8
# with median ~3.52) so the flag varies at every oracle SF (the
# negative-path tests assert both values occur — a constant flag would
# make the hash gate vacuous for this column).
_PPL_NLL_HI = 3.52

# Spark-side bigram derivation, ROW-LOCAL (no per-doc window shuffle:
# adjacent pairs come straight out of the token array; out-of-bounds
# array access yields NULL, filtered once). DuckDB mirrors with a
# LATERAL range join over 1-based list indexing.
_PAIRS = (
    "transform(sequence(0, greatest(size(t) - 2, 0)),"
    " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
)


# Per-doc NLL scoring pipeline as a reusable CTE fragment (no WITH):
# train the add-one bigram LM on the reference slice, score every
# doc's bigram stream, reduce to perdoc(doc_id, nb, nu, nll). Shared
# by ns_quality_perplexity and ns_quality_ccnet_buckets — the two
# oracles must replay the IDENTICAL model or their avg_nll columns
# drift apart.
_PPL_PERDOC_CTES = f"""
    toks AS (
      SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS t
      FROM documents
    ),
    pairs AS (
      SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
      FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
    ),
    big AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM pairs
      WHERE source = '{_PPL_REF_SOURCE}' GROUP BY 1, 2
    ),
    uni AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM big GROUP BY 1),
    voc AS (SELECT COUNT(*) AS v FROM uni),
    scored AS (
      SELECT p.doc_id,
             COALESCE(b.c2, 0) + 1 AS num,
             COALESCE(u.c1, 0) + voc.v AS den,
             CASE WHEN b.c2 IS NULL THEN 1 ELSE 0 END AS unseen
      FROM pairs p
      LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
      LEFT JOIN uni u ON p.w1 = u.w1
      CROSS JOIN voc
    ),
    {sql_det_ln_ctes("lnx", "scored", {"num": "ln_num", "den": "ln_den"})},
    perdoc AS (
      SELECT doc_id, COUNT(*) AS nb, CAST(SUM(unseen) AS BIGINT) AS nu,
             {sql_dsum("ln_den - ln_num", "nll")}
      FROM lnx GROUP BY doc_id
    )
"""


@query(
    "ns_quality_perplexity",
    f"""
    WITH {_PPL_PERDOC_CTES}
    SELECT d.doc_id,
           CAST(COALESCE(p.nb, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(p.nu, 0) AS BIGINT) AS n_unseen,
           p.nll AS nll,
           p.nll / CAST(p.nb AS DOUBLE) AS avg_nll,
           CASE WHEN p.nll / CAST(p.nb AS DOUBLE)
                     > CAST({_PPL_NLL_HI!r} AS DOUBLE)
                THEN 1 ELSE 0 END AS high_nll
    FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    """,
)
def ns_quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filter (CCNet pipeline shape): add-one
    bigram LM trained on the `src1` reference slice; every doc scored
    by average NLL (nats/token = ln perplexity); `high_nll` flags the
    docs CCNet would route to its "tail" bucket.

    Per-bigram probability p(w2|w1) = (c(w1,w2)+1) / (c(w1,.)+V) — all
    integer counts, so each token's surprisal is det_ln(den) -
    det_ln(num), bit-identical cross-engine (registry.det_ln_int).

    Scale: bigram derivation is ROW-LOCAL (array transform in the scan
    projection — no per-doc window shuffle). The model is one hash agg
    over the reference slice's bigrams (map-side combine absorbs hot
    pairs); scoring is two keyed joins of the corpus bigram stream
    against model tables that are vocab-sized, not corpus-sized — AQE
    broadcasts them at oracle SFs, and at 100 TB they stay orders of
    magnitude below the corpus (sort-merge on (w1,w2), skew absorbed
    by AQE). Per-doc reduce is ONE doc_id-keyed agg. Nothing is ever
    all-pairs; the only O(corpus) passes are the scan and the two
    keyed shuffles."""
    d, perdoc = _ppl_perdoc(spark, sf_dir)
    avg = F.col("nll") / F.col("nb").cast("double")
    return d.select("doc_id").join(perdoc, ["doc_id"], "left").select(
        "doc_id",
        F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("nu", F.lit(0)).cast("bigint").alias("n_unseen"),
        F.col("nll").alias("nll"),
        avg.alias("avg_nll"),
        F.when(avg > F.lit(_PPL_NLL_HI), 1).otherwise(0).alias("high_nll"),
    )


def _ppl_perdoc(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared per-doc NLL scoring: returns (documents DF, perdoc DF =
    doc_id/nb/nu/nll) — the Spark twin of _PPL_PERDOC_CTES; ONE
    implementation feeds both perplexity consumers
    (ns_quality_perplexity, ns_quality_ccnet_buckets) so the model and
    scores cannot drift between them."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    pairs = (
        d.select(
            "doc_id",
            "source",
            F.split(F.lower(F.trim("text")), " ").alias("t"),
        )
        .select("doc_id", "source", F.explode(F.expr(_PAIRS)).alias("bg"))
        .select("doc_id", "source", "bg.w1", "bg.w2")
        .filter(F.col("w2").isNotNull())
    )
    big = (
        pairs.filter(F.col("source") == _PPL_REF_SOURCE)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    uni = big.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    voc = uni.agg(F.count("*").alias("v"))
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(uni, ["w1"], "left")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            (F.coalesce("c2", F.lit(0)) + F.lit(1)).alias("num"),
            (F.coalesce("c1", F.lit(0)) + F.col("v")).alias("den"),
            F.when(F.col("c2").isNull(), 1).otherwise(0).alias("unseen"),
        )
    )
    perdoc = scored.groupBy("doc_id").agg(
        F.count("*").alias("nb"),
        F.sum("unseen").cast("bigint").alias("nu"),
        dsum(det_ln_int(F.col("den")) - det_ln_int(F.col("num")), "nll"),
    )
    return d, perdoc


# Deterministic cutoff-training sample for ns_quality_ccnet_buckets:
# first md5(doc_id) hex nibble < 4 → a reproducible 25% slice. The
# rate is the knob a 100 TB run turns DOWN (CCNet trains its
# percentile cutoffs on a bounded sample, never the full corpus) so
# the cutoff window always runs over an executor-bounded frame.
_CCNET_SAMPLE_NIBBLE = 4


@query(
    "ns_quality_ccnet_buckets",
    f"""
    WITH {_PPL_PERDOC_CTES},
    docsc AS (
      SELECT d.doc_id, d.lang,
             COALESCE(p.nb, 0) AS nb,
             p.nll / CAST(p.nb AS DOUBLE) AS avg_nll
      FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    ),
    samp AS (
      SELECT * FROM docsc
      WHERE nb > 0
        AND {sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 1, 1)}
            < {_CCNET_SAMPLE_NIBBLE}
    ),
    ranked AS (
      SELECT lang, doc_id, avg_nll,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY avg_nll, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM samp
    ),
    cuts AS (
      SELECT lang,
             MAX(CASE WHEN rn = (cnt + 2) // 3 THEN avg_nll END) AS cut1,
             MAX(CASE WHEN rn = (2 * cnt + 2) // 3 THEN avg_nll END) AS cut2
      FROM ranked GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.avg_nll,
           CASE WHEN s.nb = 0 THEN 'unscored'
                WHEN c.cut1 IS NULL THEN 'head'
                WHEN s.avg_nll <= c.cut1 THEN 'head'
                WHEN s.avg_nll <= c.cut2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM docsc s LEFT JOIN cuts c ON s.lang = c.lang
    """,
)
def ns_quality_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity routing: per-language
    tercile cutoffs trained on a deterministic hash sample, every doc
    routed by comparing its avg NLL (the SAME bigram-LM score
    ns_quality_perplexity emits — one shared scoring implementation,
    _ppl_perdoc) against its language's cutoffs. CCNet keeps `head`,
    mixes `middle`, drops or re-filters `tail`; `unscored` marks docs
    with no bigrams.

    Determinism: avg_nll is the det_ln/dsum-exact score; the sample is
    md5-nibble-derived (no RNG); cutoff ranks are exact integer
    arithmetic (ceil(n/3) = (n+2) div 3) over a (score, doc_id)-total
    order, so both engines pick the identical cutoff VALUES and every
    comparison sees bit-identical doubles.

    Scale shape: scoring is the perplexity pipeline's keyed-join plan;
    cutoff training runs a per-lang window over the bounded hash
    SAMPLE only (never the corpus — see _CCNET_SAMPLE_NIBBLE); routing
    is a broadcast join of the |langs|-row cutoff table followed by a
    row-local CASE. The corpus is never globally sorted — the full
    per-lang NTILE formulation would range-sort 50 TB of a dominant
    language through one task wave, which is exactly the plan this
    sample-then-broadcast shape exists to avoid."""
    d, perdoc = _ppl_perdoc(spark, sf_dir)
    docsc = d.select("doc_id", "lang").join(perdoc, ["doc_id"], "left").select(
        "doc_id",
        "lang",
        F.coalesce("nb", F.lit(0)).alias("nb"),
        (F.col("nll") / F.col("nb").cast("double")).alias("avg_nll"),
    )
    samp = docsc.filter(
        (F.col("nb") > 0)
        & (
            hex_int(F.md5(F.col("doc_id").cast("string")), 1, 1)
            < _CCNET_SAMPLE_NIBBLE
        )
    )
    ranked = (
        samp.select("lang", "doc_id", "avg_nll")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("avg_nll", "doc_id")
            ),
        )
        .withColumn("cnt", F.count("*").over(Window.partitionBy("lang")))
    )
    cuts = ranked.groupBy("lang").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(cnt + 2) div 3"), F.col("avg_nll"))
        ).alias("cut1"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(2 * cnt + 2) div 3"), F.col("avg_nll")
            )
        ).alias("cut2"),
    )
    return docsc.join(F.broadcast(cuts), ["lang"], "left").select(
        "doc_id",
        "lang",
        "avg_nll",
        F.when(F.col("nb") == 0, F.lit("unscored"))
        .when(F.col("cut1").isNull(), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("cut1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# ---------- DSIR importance resampling ----------

# Target slice whose distribution the raw pool is resampled toward
# (DSIR's "target domain"); distinct from the perplexity reference and
# the contamination eval slice so the three stand-ins don't conflate.
_DSIR_TARGET_SOURCE = "src2"
_DSIR_BUCKETS = 256  # hashed-unigram feature space (DSIR uses 10^4)

# bucket(w) = first 16 bits of md5(w) mod B — md5 is byte-identical in
# both engines, and both read the 16-bit value through the registry's
# hex_int twin (as dedup._h32 does).
_DSIR_BUCKET_SQL = f"{sql_hex_int('md5(w)', 1, 4)} % {_DSIR_BUCKETS}"


def _dsir_bucket(col: Column) -> Column:
    return hex_int(F.md5(col), 1, 4) % _DSIR_BUCKETS


@query(
    "ns_sample_importance",
    f"""
    WITH toks AS (
      SELECT doc_id, source,
             {_DSIR_BUCKET_SQL} AS f
      FROM (
        SELECT doc_id, source,
               unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents
      )
    ),
    model0 AS (
      SELECT f,
             CAST(SUM(CASE WHEN source = '{_DSIR_TARGET_SOURCE}'
                           THEN 1 ELSE 0 END) + 1 AS BIGINT) AS ct1,
             CAST(SUM(CASE WHEN source = '{_DSIR_TARGET_SOURCE}'
                           THEN 0 ELSE 1 END) + 1 AS BIGINT) AS cr1
      FROM toks GROUP BY f
    ),
    tot0 AS (
      SELECT CAST(SUM(ct1 - 1) + {_DSIR_BUCKETS} AS BIGINT) AS tb,
             CAST(SUM(cr1 - 1) + {_DSIR_BUCKETS} AS BIGINT) AS rb
      FROM model0
    ),
    {sql_det_ln_ctes("tot", "tot0", {"tb": "ln_tb", "rb": "ln_rb"})},
    {sql_det_ln_ctes(
        "model", "model0", {"ct1": "ln_t", "cr1": "ln_r"}
    )},
    lam AS (
      SELECT m.f,
             (m.ln_t - t.ln_tb) - (m.ln_r - t.ln_rb) AS lam
      FROM model m CROSS JOIN tot t
    ),
    perdoc AS (
      SELECT k.doc_id, COUNT(*) AS n_tokens,
             {sql_dsum("l.lam", "log_weight")}
      FROM toks k JOIN lam l ON k.f = l.f
      WHERE k.source <> '{_DSIR_TARGET_SOURCE}'
      GROUP BY k.doc_id
    ),
    mu AS (
      SELECT CAST(SUM(CAST(log_weight / CAST(n_tokens AS DOUBLE)
                           AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*) AS mean_alw
      FROM perdoc
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, log_weight,
           log_weight / CAST(n_tokens AS DOUBLE) AS avg_log_weight,
           CASE WHEN log_weight / CAST(n_tokens AS DOUBLE) > mean_alw
                THEN 1 ELSE 0 END AS keep
    FROM perdoc CROSS JOIN mu
    """,
)
def ns_sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023 pipeline shape):
    hashed-unigram features (md5 16-bit → 256 buckets),
    per-feature log-likelihood ratio between the `src2` target slice
    and the raw pool (add-one smoothing both sides), per-raw-doc
    importance log-weight = Σ_tokens λ(bucket). `keep` = per-token
    evidence above the corpus mean — a threshold computed by ONE
    1-row aggregate and broadcast, not a global sort (production
    note: DSIR's gumbel-top-k also reduces to a per-doc score
    threshold, so nothing here changes shape at 100 TB; smoothing
    biases raw-pool scores slightly negative, which is why the cut is
    mean-relative rather than at 0).

    Every λ is a difference of det_ln over integer counts —
    bit-identical cross-engine; doc sums go through exact decimal.

    Scale: ONE token-keyed hash agg builds the 256-row model
    (map-side combine); λ is computed on the model rows (256
    det_ln evaluations, not per token); scoring joins the token stream
    to the broadcast model and reduces per doc_id. No global sort, no
    all-pairs, model size independent of corpus size."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    toks = d.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("w"),
    ).select("doc_id", "source", _dsir_bucket(F.col("w")).alias("f"))
    is_t = F.col("source") == _DSIR_TARGET_SOURCE
    model0 = toks.groupBy("f").agg(
        (F.sum(F.when(is_t, 1).otherwise(0)) + 1).cast("bigint").alias("ct1"),
        (F.sum(F.when(is_t, 0).otherwise(1)) + 1).cast("bigint").alias("cr1"),
    )
    tot = model0.agg(
        (F.sum(F.col("ct1") - 1) + _DSIR_BUCKETS).cast("bigint").alias("tb"),
        (F.sum(F.col("cr1") - 1) + _DSIR_BUCKETS).cast("bigint").alias("rb"),
    ).select(
        det_ln_int(F.col("tb")).alias("ln_tb"),
        det_ln_int(F.col("rb")).alias("ln_rb"),
    )
    lam = model0.crossJoin(F.broadcast(tot)).select(
        "f",
        (
            (det_ln_int(F.col("ct1")) - F.col("ln_tb"))
            - (det_ln_int(F.col("cr1")) - F.col("ln_rb"))
        ).alias("lam"),
    )
    perdoc = (
        toks.filter(~is_t)
        .join(F.broadcast(lam), ["f"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), dsum("lam", "log_weight"))
    )
    avg = F.col("log_weight") / F.col("n_tokens").cast("double")
    mu = perdoc.agg(
        (
            F.sum(avg.cast("decimal(28,6)")).cast("double") / F.count("*")
        ).alias("mean_alw")
    )
    return perdoc.crossJoin(F.broadcast(mu)).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "log_weight",
        avg.alias("avg_log_weight"),
        F.when(avg > F.col("mean_alw"), 1).otherwise(0).alias("keep"),
    )


# ---------- bloom-filter incremental chunk dedup ----------

# Delta slice (the "new batch" in the incremental pipeline); everything
# else is the already-ingested base corpus whose chunk keys feed the
# filter. Chunking matches ns_chunk_dedup (16-token non-overlapping
# passages) so the two operators describe the same key space.
_BLOOM_DELTA = ("src16", "src17", "src18", "src19")
_BLOOM_CHUNK = 16
_BLOOM_BPK = 6  # filter bits per base key -> ~6% FPR at k=3
_BLOOM_K = 3  # hash count; 3 x 10 md5 nibbles = 30 of 32 used
_BLOOM_WORD = 63  # bits per bigint word (sign bit unused)

_BLOOM_DELTA_SQL = ", ".join(f"'{s}'" for s in _BLOOM_DELTA)


def _bloom_h40(ck: Column, j: int) -> Column:
    """The j-th 40-bit position hash: md5 hex chars [1+10j, 10+10j] of
    the chunk key, so positions cover filters up to 2^40 bits."""
    return hex_int(ck, 1 + 10 * j, 10)


def _bloom_h40_sql(ck: str, j: int) -> str:
    """DuckDB twin of _bloom_h40."""
    return sql_hex_int(ck, 1 + 10 * j, 10)


# Position-hash address space: 10 md5 nibbles = 2^40 bits. A filter
# sized beyond this would be SILENTLY degraded (positions only ever
# land in the first 2^40 bits, so extra words are never set/probed —
# no false negatives appear, but FPR stops improving), so geometry
# derivation fails loudly at the cap instead. ~20 G distinct base
# keys at 6 bits/key; the continuation is documented in SCALING.md:
# widen the per-hash nibble window (md5 has 32 nibbles; k=3 x 10
# leaves 2 spare) or shard the filter by a key prefix and route
# probes to the matching shard (the words table is already the
# shard-able unit).
_BLOOM_CAP_BITS = 1 << 40


def bloom_geometry(n_keys: int) -> int:
    """m_bits for n_keys distinct base keys: _BLOOM_BPK bits/key,
    rounded up to whole _BLOOM_WORD-bit words — the same integer
    arithmetic the in-plan geometry (ns_dedup_bloom) and the DuckDB
    twin compute. Raises at the 2^40 position-hash cap rather than
    building a filter whose upper bits are unreachable."""
    m_bits = (
        (n_keys * _BLOOM_BPK + _BLOOM_WORD - 1) // _BLOOM_WORD
    ) * _BLOOM_WORD
    if m_bits > _BLOOM_CAP_BITS:
        raise ValueError(
            f"bloom filter needs {m_bits} bits for {n_keys} keys, past "
            f"the 2^40 position-hash cap (~{_BLOOM_CAP_BITS // _BLOOM_BPK}"
            " keys); widen the md5 nibble window or shard the filter "
            "(SCALING.md, bloom cap section)"
        )
    return m_bits


def bloom_chunk_frame(d: DataFrame) -> DataFrame:
    """Row-local chunk derivation shared by ns_dedup_bloom and the
    streaming probe (stream_dedup_bloom): (doc_id, source, chunk_id,
    ck=md5(16-token chunk)). Works unchanged on a streaming source —
    explode/slice/md5 are all stateless."""
    toks = F.split(F.col("text"), " ")
    n_chunks_doc = F.ceil(F.size(toks) / F.lit(_BLOOM_CHUNK))
    return (
        d.select(
            "doc_id",
            "source",
            toks.alias("t"),
            F.explode(
                F.sequence(
                    F.lit(0), F.greatest(n_chunks_doc - 1, F.lit(0))
                )
            ).alias("chunk_id"),
        )
        .filter(F.col("chunk_id") * _BLOOM_CHUNK < F.size("t"))
        .select(
            "doc_id",
            "source",
            "chunk_id",
            F.md5(
                F.array_join(
                    F.slice(
                        "t",
                        F.col("chunk_id") * _BLOOM_CHUNK + 1,
                        _BLOOM_CHUNK,
                    ),
                    " ",
                )
            ).alias("ck"),
        )
    )


def bloom_static_sides(spark: SparkSession, sf_dir: str):
    """Batch-built static sides for the STREAMING bloom probe:
    (m_bits literal, words table, base key set). The geometry becomes
    a plain int (one bounded count) because a streaming plan can't
    cross-join a batch scalar; the word/key tables are broadcast into
    the stream-static joins. Identical arithmetic to ns_dedup_bloom's
    build phase."""
    from .registry import persist_evicting

    d = tbl(spark, sf_dir, "documents", parallel=True)
    chunks = bloom_chunk_frame(d)
    # Persist the static sides WITHIN the invocation (r14 verdict #4,
    # guide §5): the streaming probe broadcasts `words` once per
    # (hash slot, micro-batch) and `basek` once per batch — without
    # the persist each broadcast re-ran the chunk+distinct build
    # (documents scan, md5 per chunk, a shuffle) up to K·batches
    # times per invocation. The geometry count() doubles as the cache
    # populator. Bounded: |basek| keys + m_bits/64 words, evicted on
    # the next invocation.
    basek = persist_evicting(
        chunks.filter(~F.col("source").isin(*_BLOOM_DELTA))
        .select("ck")
        .distinct(),
        "curation.bloom_static.basek",
    )
    m_bits = bloom_geometry(basek.count())
    pos = F.explode(
        F.array(
            *[
                _bloom_h40(F.col("ck"), j) % F.lit(m_bits)
                for j in range(_BLOOM_K)
            ]
        )
    ).alias("pos")
    words = persist_evicting(
        basek.select(pos)
        .select(
            F.expr(f"pos div {_BLOOM_WORD}").alias("word"),
            F.expr(
                f"shiftleft(1L, cast(pos % {_BLOOM_WORD} as int))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("wv")),
        "curation.bloom_static.words",
    )
    return m_bits, words, basek


_BLOOM_CHUNKS_SQL = f"""
    toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, source, i.i AS chunk_id,
             md5(array_to_string(
               t[(i.i * {_BLOOM_CHUNK} + 1):((i.i + 1) * {_BLOOM_CHUNK})],
               ' ')) AS ck
      FROM toks,
           (SELECT unnest(range(0,
              (SELECT MAX(len(t)) FROM toks) // {_BLOOM_CHUNK} + 1))
              AS i) i
      WHERE i.i * {_BLOOM_CHUNK} < len(t)
    )"""


@query(
    "ns_dedup_bloom",
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
                 f"{_bloom_h40_sql('b.ck', j)} % g.m_bits"
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
                 f"{_bloom_h40_sql('c.ck', j)} % g.m_bits"
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
    ),
    verdicts AS (
      SELECT pc.doc_id, pc.maybe,
             CASE WHEN b.ck IS NULL THEN 0 ELSE 1 END AS seen
      FROM perchunk pc LEFT JOIN basek b ON pc.ck = b.ck
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(maybe) AS BIGINT) AS n_maybe_seen,
           CAST(SUM(seen) AS BIGINT) AS n_seen_exact,
           CAST(SUM(maybe) - SUM(seen) AS BIGINT) AS n_false_pos,
           CASE WHEN SUM(seen) * 2 >= COUNT(*) THEN 1 ELSE 0 END
             AS mostly_dup
    FROM verdicts GROUP BY doc_id
    """,
)
def ns_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup: the base corpus's distinct
    16-token chunk keys populate a bloom filter (auto-sized at
    {bpk} bits/key from the EXACT base key count — integer math both
    engines replay — k={k} md5-derived 40-bit hashes, 63-bit bigint
    words); the delta batch ({delta}) probes it per chunk. Verdicts
    carry the exact membership too, so the output quantifies the
    filter's false positives against ground truth — the go/no-go
    audit before trusting the filter as the cheap pre-screen in a
    production incremental pipeline (ns_dedup_incremental is the
    exact post-screen it gates).

    No-false-negative invariant (a seen chunk always probes
    all-bits-set, because positions are deterministic functions of
    the key) is property-tested and implied hash-exactly by
    n_false_pos = n_maybe - n_seen >= 0 per doc.

    Scale: the filter is ~6 bits per base KEY — at 100 TB the words
    table is corpus/10^5-sized and broadcast (here: ~n*6/63 rows);
    building it is one distinct + one bit_or hash agg (both keyed,
    map-side combined); probing is a broadcast join, zero shuffle on
    the delta stream beyond the per-doc rollup. The 40-bit position
    hash caps the filter at 2^40 bits (~20 G keys at 6 b/k); beyond
    that, widen to more md5 nibbles (documented, not silent)."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    chunks = bloom_chunk_frame(d)
    is_delta = F.col("source").isin(*_BLOOM_DELTA)
    basek = chunks.filter(~is_delta).select("ck").distinct()
    geom = basek.agg(
        (
            F.expr(
                f"(count(*) * {_BLOOM_BPK} + {_BLOOM_WORD - 1})"
                f" div {_BLOOM_WORD}"
            )
            * _BLOOM_WORD
        ).alias("m_bits")
    )
    pos_arr = lambda ck: F.array(  # noqa: E731
        *[_bloom_h40(ck, j) % F.col("m_bits") for j in range(_BLOOM_K)]
    )
    setbits = (
        basek.crossJoin(F.broadcast(geom))
        .select(F.explode(pos_arr(F.col("ck"))).alias("pos"))
        .select(
            F.expr(f"pos div {_BLOOM_WORD}").alias("word"),
            F.expr(
                f"shiftleft(1L, cast(pos % {_BLOOM_WORD} as int))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("wv"))
    )
    probe = (
        chunks.filter(is_delta)
        .crossJoin(F.broadcast(geom))
        .select(
            "doc_id",
            "chunk_id",
            "ck",
            F.explode(pos_arr(F.col("ck"))).alias("pos"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "ck",
            F.expr(f"pos div {_BLOOM_WORD}").alias("word"),
            (F.col("pos") % _BLOOM_WORD).cast("int").alias("bit"),
        )
    )
    perchunk = (
        probe.join(F.broadcast(setbits), ["word"], "left")
        .select(
            "doc_id",
            "chunk_id",
            "ck",
            F.when(
                F.col("wv").isNotNull()
                & (F.expr("shiftright(wv, bit) & 1") == 1),
                1,
            )
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("doc_id", "chunk_id", "ck")
        .agg(F.min("hit").alias("maybe"))
    )
    verdicts = perchunk.join(
        basek.withColumn("seen1", F.lit(1)), ["ck"], "left"
    ).select("doc_id", "maybe", F.coalesce("seen1", F.lit(0)).alias("seen"))
    return verdicts.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("maybe").cast("bigint").alias("n_maybe_seen"),
        F.sum("seen").cast("bigint").alias("n_seen_exact"),
        (F.sum("maybe") - F.sum("seen")).cast("bigint").alias("n_false_pos"),
        F.when(F.sum("seen") * 2 >= F.count("*"), 1)
        .otherwise(0)
        .alias("mostly_dup"),
    )


ns_dedup_bloom.__doc__ = ns_dedup_bloom.__doc__.format(
    bpk=_BLOOM_BPK, k=_BLOOM_K, delta="/".join(_BLOOM_DELTA)
)


# ---------- weighted sampling without replacement (E-S keys) ----------

_WTK_K = 100
_WTK_C = 1 << 32  # md5-32 hash range; u = h / 2^32 in (0, 1]


@query(
    "ns_sample_weighted_topk",
    f"""
    WITH base AS (
      SELECT doc_id, source, n_chars,
             {sql_hex_int("md5(CAST(doc_id AS VARCHAR))", 1, 8)} + 1 AS h,
             CAST({_WTK_C} AS BIGINT) AS c
      FROM documents
    ),
    {sql_det_ln_ctes("lnx", "base", {"h": "ln_h", "c": "ln_c"})},
    keyed AS (
      SELECT doc_id, source, n_chars,
             -- weight clamped >= 1: an empty doc must race with the
             -- minimum weight, not divide by zero (Spark yields Inf
             -- there but DuckDB's x/0.0 is NULL under this harness's
             -- ieee_floating_point_ops setting — a silent hash break)
             (ln_c - ln_h) / CAST(greatest(n_chars, 1) AS DOUBLE)
               AS sample_key
      FROM lnx
    ),
    top AS (
      SELECT * FROM keyed ORDER BY sample_key, doc_id LIMIT {_WTK_K}
    )
    SELECT CAST(row_number() OVER (ORDER BY sample_key, doc_id)
                AS BIGINT) AS rank,
           doc_id, source, n_chars, sample_key
    FROM top
    """,
)
def ns_sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential race
    keys (Efraimidis-Spirakis): each doc draws u = (md5_32(doc_id)+1)
    / 2^32 and races with key -ln(u)/w, w = max(n_chars, 1) — clamped
    so a zero-char doc races at minimum weight instead of hitting the
    engines' DIFFERENT x/0.0 semantics (Spark Inf, DuckDB NULL here);
    the k smallest keys ARE a weight-proportional sample without
    replacement. The
    reproducible heavy-tail downsampling step (ns_sample_weighted is
    the Bernoulli per-doc variant; this one hits an EXACT sample
    size).

    -ln(u) = det_ln(2^32) - det_ln(h) — integer det_ln again, so the
    race keys are bit-identical cross-engine and the oracle replays
    the exact winner set and order.

    Scale: row-local key derivation in the scan projection; selection
    is TakeOrderedAndProject (per-partition top-k, k-row final merge
    on the driver) — no global sort, no shuffle of the corpus. The
    final rank window runs on k rows."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    h = hex_int(F.md5(F.col("doc_id").cast("string")), 1, 8) + 1
    key = (
        (det_ln_int(F.lit(_WTK_C)) - det_ln_int(h))
        # clamp w >= 1 on BOTH engines (see the oracle comment): the
        # engines disagree on x/0.0 (Inf vs NULL), so a zero-char doc
        # would silently break the hash gate
        / F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    )
    top = (
        d.select("doc_id", "source", "n_chars", key.alias("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(_WTK_K)
    )
    from pyspark.sql.window import Window as W

    return top.select(
        F.row_number()
        .over(W.orderBy("sample_key", "doc_id"))
        .cast("bigint")
        .alias("rank"),
        "doc_id",
        "source",
        "n_chars",
        "sample_key",
    )


# ---------- leakage-safe fold assignment ----------

_FOLDS = 5


@query(
    "ns_split_group_folds",
    f"""
    WITH g AS (
      SELECT doc_id, n_chars,
             array_to_string(string_split(lower(trim(text)), ' ')[1:3],
                             ' ') AS ckey
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars, ckey,
             {sql_hex_int("md5(ckey)", 1, 4)} % {_FOLDS} AS fold,
             doc_id % {_FOLDS} AS naive_fold
      FROM g
    ),
    groups AS (
      SELECT ckey, COUNT(*) AS gsize,
             COUNT(DISTINCT naive_fold) AS naive_spread
      FROM assigned GROUP BY ckey
    )
    SELECT a.fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT a.ckey) AS BIGINT) AS n_groups,
           CAST(SUM(a.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN g.gsize > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_in_dup_groups,
           CAST(SUM(CASE WHEN g.naive_spread > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_naive_would_leak
    FROM assigned a JOIN groups g ON a.ckey = g.ckey
    GROUP BY a.fold
    """,
)
def ns_split_group_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold split: the fold is a hash of the dedup
    family's canonical GROUP key (the 3-token normalized prefix,
    dedup._CKEY), so every near-duplicate group lands wholly inside
    one fold — eval can never see a training doc's twin. Per fold:
    volume stats plus the audit that justifies the design —
    `docs_naive_would_leak` counts docs whose dup group straddles
    folds under the naive doc_id %% k split (group-aware spread is 0
    by construction).

    Scale: fold assignment is row-local (md5 of the short group key);
    the audit is one ckey-keyed agg joined back on the same key (one
    shuffle, reused partitioning). The 64-hex/3-token key bounds
    skew the same way the dedup family does."""
    from .dedup import _ckey_col

    d = tbl(spark, sf_dir, "documents", parallel=True)
    assigned = d.select(
        "doc_id",
        "n_chars",
        _ckey_col().alias("ckey"),
    ).select(
        "doc_id",
        "n_chars",
        "ckey",
        (hex_int(F.md5("ckey"), 1, 4) % _FOLDS).alias("fold"),
        (F.col("doc_id") % _FOLDS).alias("naive_fold"),
    )
    groups = assigned.groupBy("ckey").agg(
        F.count("*").alias("gsize"),
        F.countDistinct("naive_fold").alias("naive_spread"),
    )
    return (
        assigned.join(groups, ["ckey"])
        .groupBy("fold")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("ckey").cast("bigint").alias("n_groups"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.when(F.col("gsize") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_in_dup_groups"),
            F.sum(F.when(F.col("naive_spread") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_naive_would_leak"),
        )
    )


# ---------- unigram-entropy quality signal ----------

# Normalized-entropy floor: repetitive docs (low token diversity per
# length) sit below it. Calibrated inside the observed spread at the
# oracle SFs (norm_entropy spans ~0.86-1.0 with median ~0.963 at
# sf0.001/0.01/0.1) so the flag varies (see the flag-flip test).
_ENT_LOW = 0.96


@query(
    "ns_quality_entropy",
    f"""
    WITH tc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM (
        SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        FROM documents
      ) GROUP BY doc_id, w
    ),
    {sql_det_ln_ctes("lnc", "tc", {"c": "ln_c"})},
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             {sql_dsum("c * ln_c", "sclnc")}
      FROM lnc GROUP BY doc_id
    ),
    {sql_det_ln_ctes(
        "lnn", "agg", {"n_tokens": "ln_n", "n_distinct": "ln_d"}
    )}
    SELECT doc_id, n_tokens, n_distinct,
           ln_n - sclnc / CAST(n_tokens AS DOUBLE) AS entropy,
           CASE WHEN n_distinct > 1
                THEN (ln_n - sclnc / CAST(n_tokens AS DOUBLE)) / ln_d
                ELSE CAST(0.0 AS DOUBLE) END AS norm_entropy,
           CASE WHEN n_distinct > 1
                 AND (ln_n - sclnc / CAST(n_tokens AS DOUBLE)) / ln_d
                     < CAST({_ENT_LOW!r} AS DOUBLE)
                THEN 1 ELSE 0 END AS low_entropy
    FROM lnn
    """,
)
def ns_quality_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Shannon entropy per doc (nats) — the
    repetitiveness/diversity quality signal complementing the Gopher
    shape rules (ns_quality_gopher counts dup n-grams;
    entropy measures the whole distribution): H = ln(n) - (1/n)·Σ
    c_w·ln(c_w) over within-doc token counts, normalized by the
    maximum ln(n_distinct); `low_entropy` flags template/boilerplate
    docs whose diversity is low for their length.

    Both logs take INTEGER counts, so det_ln makes every emitted
    value bit-identical cross-engine (the third det_ln consumer after
    perplexity and DSIR).

    Scale: one (doc_id, token)-keyed hash agg (map-side combine —
    within-doc token counts never leave the mapper un-reduced) and
    one doc_id agg; ~20 codegen'd double ops per distinct token for
    the log. Zero joins, zero windows."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    tc = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower(F.trim("text")), " ")).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        dsum(F.col("c").cast("double") * det_ln_int(F.col("c")), "sclnc"),
    )
    ln_n = det_ln_int(F.col("n_tokens"))
    ln_d = det_ln_int(F.col("n_distinct"))
    ent = ln_n - F.col("sclnc") / F.col("n_tokens").cast("double")
    norm = F.when(F.col("n_distinct") > 1, ent / ln_d).otherwise(
        F.lit(0.0)
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        ent.alias("entropy"),
        norm.alias("norm_entropy"),
        F.when(
            (F.col("n_distinct") > 1) & (norm < F.lit(_ENT_LOW)), 1
        )
        .otherwise(0)
        .alias("low_entropy"),
    )


# ---------- web-markup extraction (the pipeline's step zero) ----------

# Deterministic markup synthesized from doc fields (the
# ns_url_canonicalize fixture trick): every 7th doc gets a MALFORMED
# body tag (its '>' dropped), so the tag-stripper swallows the body
# and the roundtrip audit actually exercises its failure path.
_HTML = (
    "'<html><head><title>' || {title} || '</title>"
    '<meta charset="utf-8"></head><body>'
    "<nav>Home | About | ' || upper(source) || '</nav>"
    "<h1>' || {title} || '</h1>"
    "<p{brk}>' || text || '</p>"
    "<footer>(c) 2024 ' || source || '</footer></body></html>'"
)
_HTML_TITLE = "source || ' #' || CAST(doc_id AS VARCHAR)"
_HTML_WELL = _HTML.format(title=_HTML_TITLE, brk="")
_HTML_BROKEN = _HTML.format(title=_HTML_TITLE, brk=' class="x"')


@query(
    "ns_html_extract",
    f"""
    WITH pages AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 7 = 0
                  THEN {_HTML_BROKEN}
                  ELSE {_HTML_WELL}
             END AS html
      FROM documents
    ),
    fixed AS (
      SELECT doc_id, text, html,
             CASE WHEN doc_id % 7 = 0
                  THEN replace(html, '<p class="x">', '<p class="x"')
                  ELSE html END AS raw
      FROM pages
    ),
    ext AS (
      SELECT doc_id, text, raw,
             regexp_extract(raw, '<title>([^<]*)</title>', 1) AS title,
             trim(regexp_replace(regexp_replace(regexp_replace(
                 regexp_replace(regexp_replace(raw,
                     '<head>.*</head>', ' ', 'g'),
                     '<nav>[^<]*</nav>', ' ', 'g'),
                     '<footer>[^<]*</footer>', ' ', 'g'),
                     '<[^>]*>', ' ', 'g'),
                 ' +', ' ', 'g')) AS extracted
      FROM fixed
    )
    SELECT doc_id, title,
           CAST(length(raw) AS BIGINT) AS n_chars_html,
           CAST(length(extracted) AS BIGINT) AS n_chars_text,
           CAST(length(raw) - length(extracted) AS DOUBLE)
             / CAST(length(raw) AS DOUBLE) AS markup_ratio,
           CASE WHEN extracted =
                     trim(regexp_replace(title || ' ' || text,
                                         ' +', ' ', 'g'))
                THEN 1 ELSE 0 END AS roundtrip_ok
    FROM ext
    """,
)
def ns_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-markup text extraction — step zero of a web-corpus
    pipeline (the trafilatura/resiliparse stage, regex-scale):
    boilerplate elements (head/nav/footer) are removed as ELEMENTS,
    remaining tags stripped, whitespace normalized; emits the title,
    size accounting (markup_ratio = the crawl bytes extraction
    reclaims), and a roundtrip audit against the known source text.
    Markup is synthesized deterministically from doc fields (the
    ns_url_canonicalize fixture pattern) and every 7th page is
    MALFORMED (an unclosed body tag swallows the text), so
    roundtrip_ok varies and the failure path is exercised — the
    audit shape for validating an extractor before trusting it on a
    crawl.

    Precondition (r9 ADVICE): the roundtrip audit separates cleanly
    only when documents.text is non-empty — a malformed page
    swallowing an EMPTY body would equal the empty source and pass
    vacuously. tests/test_properties.py::
    test_documents_text_nonempty_fixture pins min(length(trim(text)))
    > 0 at every test SF, so the separation invariant rests on an
    asserted fixture property, not luck.

    Scale: entirely row-local regexp codegen in the scan projection —
    zero shuffles, zero joins; the regexes stay in the RE2⊂Java
    subset both engines compile identically (the ns_pii_scrub
    rule)."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    title = F.concat(
        F.col("source"), F.lit(" #"), F.col("doc_id").cast("string")
    )
    well = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title><meta charset="utf-8"></head><body>'),
        F.lit("<nav>Home | About | "), F.upper("source"),
        F.lit("</nav><h1>"), title, F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><footer>(c) 2024 "), F.col("source"),
        F.lit("</footer></body></html>"),
    )
    broken = F.concat(
        F.lit("<html><head><title>"), title,
        F.lit('</title><meta charset="utf-8"></head><body>'),
        F.lit("<nav>Home | About | "), F.upper("source"),
        F.lit('</nav><h1>'), title, F.lit('</h1><p class="x"'),
        F.col("text"),
        F.lit("</p><footer>(c) 2024 "), F.col("source"),
        F.lit("</footer></body></html>"),
    )
    raw = F.when(F.col("doc_id") % 7 == 0, broken).otherwise(well)
    base = d.select("doc_id", "source", "text", raw.alias("raw"))
    extracted = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.col("raw"), "<head>.*</head>", " "
                        ),
                        "<nav>[^<]*</nav>", " ",
                    ),
                    "<footer>[^<]*</footer>", " ",
                ),
                "<[^>]*>", " ",
            ),
            " +", " ",
        )
    )
    # content = the h1 title plus the body (the extractor KEEPS the
    # in-page heading — that's content, not boilerplate)
    norm_src = F.trim(
        F.regexp_replace(
            F.concat(title, F.lit(" "), F.col("text")), " +", " "
        )
    )
    return base.select(
        "doc_id",
        F.regexp_extract("raw", "<title>([^<]*)</title>", 1).alias(
            "title"
        ),
        F.length("raw").cast("bigint").alias("n_chars_html"),
        extracted.alias("_ex"),
        norm_src.alias("_ns"),
    ).select(
        "doc_id",
        "title",
        "n_chars_html",
        F.length("_ex").cast("bigint").alias("n_chars_text"),
        (
            (F.col("n_chars_html") - F.length("_ex")).cast("double")
            / F.col("n_chars_html").cast("double")
        ).alias("markup_ratio"),
        F.when(F.col("_ex") == F.col("_ns"), 1).otherwise(0).alias(
            "roundtrip_ok"
        ),
    )


# ---- composed curation verdict ----

# Minimum length gate for the verdict composition: n_chars 120 sits
# near the corpus's 10th percentile, so the short branch fires on a
# real slice at every SF.
_VERDICT_MIN_CHARS = 120


def _verdict_sql() -> str:
    from .clustering import _OUTLIER_FLAG_SQL, _outlier_sql_ctes
    from .dedup import _NORM
    from .textstats import _CLS_DUCK, _NOISE_TAU

    noisy = (
        "len([x FOR x IN range(1, length(cls)) IF cls[x] != cls[x + 1]])"
        " / CAST(greatest(length(cls) - 1, 1) AS DOUBLE)"
        f" > CAST({_NOISE_TAU!r} AS DOUBLE)"
    )
    return f"""
    WITH hashes AS (
      SELECT doc_id, n_chars, sha256({_NORM}) AS h,
             {_CLS_DUCK} AS cls
      FROM documents
    ),
    keepers AS (SELECT h, MIN(doc_id) AS keeper FROM hashes GROUP BY h),
    tflags AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id != k.keeper THEN 1 ELSE 0 END AS is_dup,
             CASE WHEN {noisy} THEN 1 ELSE 0 END AS is_noisy,
             CASE WHEN d.n_chars < {_VERDICT_MIN_CHARS}
                  THEN 1 ELSE 0 END AS is_short
      FROM hashes d JOIN keepers k ON d.h = k.h
    ),
    {_outlier_sql_ctes()},
    outl AS (
      SELECT vec_id, {_OUTLIER_FLAG_SQL} AS is_outlier FROM zf
    )
    SELECT t.doc_id, t.is_dup, t.is_noisy,
           COALESCE(o.is_outlier, 0) AS is_outlier, t.is_short,
           CASE WHEN t.is_dup + t.is_noisy
                     + COALESCE(o.is_outlier, 0) + t.is_short
                     = 0 THEN 1 ELSE 0 END AS keep,
           CASE WHEN t.is_dup = 1 THEN 'dup'
                WHEN t.is_noisy = 1 THEN 'noisy'
                WHEN COALESCE(o.is_outlier, 0) = 1 THEN 'outlier'
                WHEN t.is_short = 1 THEN 'short'
                ELSE NULL END AS drop_reason
    FROM tflags t LEFT JOIN outl o ON t.doc_id = o.vec_id
    """


@query("ns_curation_verdict", _verdict_sql())
def ns_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed per-document curation decision — four screens the
    repo ships individually, joined into ONE keep/drop verdict with a
    priority-ordered reason code (dup > noisy > outlier > short):
    exact-dup non-keepers (ns_dedup_exact's hash-groupBy), class-
    transition noise (ns_ocr_noise's screen), embedding-space
    outliers (ns_embedding_outlier's z-score via the SHARED
    _outlier_frame — one implementation, one oracle CTE chain), and a
    minimum-length gate. This is the row a pipeline actually
    materializes before writing its kept shard: every doc, every
    flag, the final verdict, and WHY — the reason-coded audit
    ns_filter_attrition summarizes in aggregate.

    Determinism: every flag is an exact integer/compare gate the
    component operators already hash-gate; the embeddings table is
    doc-aligned (vec_id == doc_id, FIXTURES.md), so the outlier
    screen joins 1:1; the verdict and reason are pure CASE over the
    four flags.

    Scale: the dup keeper is a sha256-keyed aggregate + same-key join
    (the ns_dedup_exact shape — skew-proof key, text dropped before
    the exchange); noise + length are row-local in the same scan
    projection; the outlier screen is the shared bounded-collect
    chain; the final join is a doc_id-keyed left join. No
    corpus-scaled windows or nested loops."""
    from .clustering import _outlier_frame
    from .dedup import _norm_col
    from .textstats import _CLS_SPARK, _NOISE_TAU

    d = tbl(spark, sf_dir, "documents", parallel=True)
    em = tbl(spark, sf_dir, "embeddings", parallel=True)
    h = d.select(
        "doc_id",
        "n_chars",
        F.sha2(_norm_col(), 256).alias("h"),
        F.expr(_CLS_SPARK).alias("cls"),
    )
    keepers = h.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    # length(cls) < 2 guard: Spark's sequence(1, 0) is the DESCENDING
    # [1, 0], which would count 1 phantom transition on a 1-char doc
    # while the oracle's range(1, length(cls)) is empty.
    trans = F.expr(
        "if(length(cls) < 2, 0,"
        " size(filter(sequence(1, length(cls) - 1),"
        " x -> substring(cls, x, 1) != substring(cls, x + 1, 1))))"
    )
    ratio = trans / F.greatest(
        F.length("cls") - 1, F.lit(1)
    ).cast("double")
    tflags = h.join(keepers, "h").select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("keeper"), 1)
        .otherwise(0)
        .alias("is_dup"),
        F.when(ratio > F.lit(_NOISE_TAU), 1).otherwise(0).alias("is_noisy"),
        F.when(F.col("n_chars") < _VERDICT_MIN_CHARS, 1)
        .otherwise(0)
        .alias("is_short"),
    )
    outl = _outlier_frame(em).select(
        F.col("vec_id").alias("doc_id"), "is_outlier"
    )
    j = tflags.join(outl, "doc_id", "left").withColumn(
        "is_outlier", F.coalesce(F.col("is_outlier"), F.lit(0))
    )
    total = (
        F.col("is_dup")
        + F.col("is_noisy")
        + F.col("is_outlier")
        + F.col("is_short")
    )
    return j.select(
        "doc_id",
        "is_dup",
        "is_noisy",
        "is_outlier",
        "is_short",
        F.when(total == 0, 1).otherwise(0).alias("keep"),
        F.when(F.col("is_dup") == 1, F.lit("dup"))
        .when(F.col("is_noisy") == 1, F.lit("noisy"))
        .when(F.col("is_outlier") == 1, F.lit("outlier"))
        .when(F.col("is_short") == 1, F.lit("short"))
        .otherwise(F.lit(None).cast("string"))
        .alias("drop_reason"),
    )


# ---------- curriculum ordering (stratified easy-to-hard schedule) ----------

_CURR_NORM = "lower(trim(text))"


@query(
    "ns_curriculum_order",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split({_CURR_NORM}, ' ')) AS BIGINT)
               AS difficulty
      FROM documents
    ),
    rk AS (
      SELECT doc_id, lang, difficulty,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY difficulty, doc_id
             ) AS BIGINT) AS stratum_rank
      FROM d
    ),
    li AS (
      SELECT lang,
             CAST(ROW_NUMBER() OVER (ORDER BY lang) AS BIGINT) AS lang_idx,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_langs
      FROM (SELECT DISTINCT lang FROM d) t
    )
    SELECT rk.doc_id, rk.lang, rk.difficulty, rk.stratum_rank,
           (rk.stratum_rank - 1) * li.n_langs + (li.lang_idx - 1)
             AS curriculum_key
    FROM rk JOIN li ON li.lang = rk.lang
    """,
)
def ns_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum schedule over the corpus: rank every
    document within its language stratum by a difficulty proxy
    (token count — short docs first, the curriculum-learning
    convention), then emit a GLOBAL interleave key
    `curriculum_key = (stratum_rank−1)·|langs| + lang_idx` — a strict
    total order that round-robins the strata (the first |langs|
    positions are each stratum's easiest doc, the next |langs| the
    second-easiest, …), so a trainer consuming the corpus in key
    order sees difficulty rise monotonically per stratum while the
    language mixture stays balanced batch-over-batch. This is the
    ordering step a training-data pipeline runs between curation and
    sharding (curriculum learning / mixture-balanced epochs).

    Scale: NO global row_number — the total order is ARITHMETIC over
    (per-stratum rank, broadcast lang index), so the only full-data
    window is partitioned by lang (the stratum shuffle a 100 TB run
    needs anyway; a skewed mega-stratum salts like any window). The
    lang index frame is |langs| rows, broadcast. Writing the
    schedule out is then repartitionByRange(curriculum_key) — a
    total ordering with no single-task sort. All columns are exact
    integers — hash-gated trivially."""
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), " "))
        .cast("bigint")
        .alias("difficulty"),
    )
    rk = d.withColumn(
        "stratum_rank",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("difficulty", "doc_id"))
        .cast("bigint"),
    )
    langs = d.select("lang").distinct()
    li = langs.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy(F.lit(1)).orderBy("lang"))
        .cast("bigint")
        .alias("lang_idx"),
        F.count("*")
        .over(Window.partitionBy(F.lit(1)))
        .cast("bigint")
        .alias("n_langs"),
    )
    return rk.join(F.broadcast(li), "lang").select(
        "doc_id",
        "lang",
        "difficulty",
        "stratum_rank",
        (
            (F.col("stratum_rank") - 1) * F.col("n_langs")
            + (F.col("lang_idx") - 1)
        ).alias("curriculum_key"),
    )
