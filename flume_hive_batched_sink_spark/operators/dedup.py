"""B10/[NS] — deduplication family over `documents`.

Five mechanisms, each the 100 TB-shaped formulation:

- exact        : normalize → sha256 → keep min doc_id per hash.
                 One shuffle on the 32-byte hash (never on raw text).
- minhash LSH  : shingle → k minhashes → band → bucket join. The
                 banding turns O(n²) similarity into a self-join on
                 (band_id, band_hash) buckets; only bucket collisions
                 get exact-Jaccard verification.
- simhash      : 64-bit sign-aggregated token hashes; near-dups share
                 band substrings (Hamming ≤ r detection by pigeonhole).
- n-gram Jaccard: candidate pairs share a 5-token shingle (inverted-
                 index self-join), then exact token-set Jaccard.
- embedding    : cosine ≥ τ pairs via the similarity module's exact
                 decimal dot product (see similarity.py for ANN).

Every dedup operator here is oracle-checked: since r8 MinHash and
SimHash derive their token hashes from md5 (byte-identical in
DuckDB — see `_h32` / `_simhash_oracle_sql`), so even the sketch
paths replay exactly; property tests additionally pin recall on
planted duplicates (tests/test_properties.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import hex_int, persist_evicting, query, sql_hex_int, tbl

_NORM = "lower(trim(text))"

# The collision-bearing canonical group key shared by the whole dedup
# family (incremental / soft-weights / filter-attrition): 3-token
# normalized prefix. ONE definition per engine — production swaps in
# an exact-hash or canonical-URL key by changing these two lines.
_CKEY = f"array_to_string(string_split({_NORM}, ' ')[1:3], ' ')"


def _norm_col() -> Column:
    return F.lower(F.trim(F.col("text")))


def _ckey_col() -> Column:
    return F.array_join(F.slice(F.split(_norm_col(), " "), 1, 3), " ")


@query(
    "ns_dedup_exact",
    f"""
    SELECT keep_doc_id, text_hash, n_copies FROM (
      SELECT sha256({_NORM}) AS text_hash,
             MIN(doc_id) AS keep_doc_id,
             COUNT(*) AS n_copies
      FROM documents
      GROUP BY sha256({_NORM})
    ) t
    """,
)
def ns_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text. The shuffle key
    is the 64-hex sha256, so skew is impossible and the wide text
    column is dropped before the exchange."""
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.sha2(_norm_col(), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "text_hash", "n_copies")
    )


# ---------- shingles + MinHash LSH ----------

N_HASHES = 16
N_BANDS = 4  # 4 rows per band → catches jaccard ≳ 0.6 reliably
SHINGLE = 3


def shingles(col: Column, n: int = SHINGLE) -> Column:
    """Distinct n-token shingles as strings (higher-order functions,
    row-local).

    The token split is LET-BOUND once per row via the single-element-
    array lambda trick: HOF lambdas re-evaluate their body per
    element, so referencing the split EXPRESSION inside the transform
    re-tokenized the whole text per shingle — O(L²) interpreted work
    per doc (the _winnow_sel pathology, found in the r14 optimization
    round; this helper feeds the entire minhash/ngram family)."""
    toks0 = F.split(col, " ")

    def inner(toks: Column) -> Column:
        idx = F.sequence(
            F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))
        )
        return F.array_distinct(
            F.transform(
                idx,
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )

    return F.get(F.transform(F.array(toks0), inner), 0)


# affine permutation constants: 31-bit odd multipliers / 32-bit offsets,
# so a*h + b over a 32-bit base hash stays within int64 (< 2^63) and
# never trips Spark 4 ANSI overflow checks — no wraparound needed.
_MH_A = [(0x9E3779B9 * (2 * i + 1)) % (1 << 31) | 1 for i in range(N_HASHES)]
_MH_B = [(0xC2B2AE3D ^ (i * 0x27D4EB2F)) % (1 << 32) for i in range(N_HASHES)]


# Cross-engine 32-bit base hash: the first 8 hex nibbles of md5,
# recentred to [-2^31, 2^31) — the same value in both engines
# (registry.hex_int), which is what lets the minhash oracle replay
# signatures exactly (md5 is byte-identical in both engines; murmur3,
# the previous base, has no DuckDB twin and kept this family
# rows-only through r7).
_H32_OFFSET = 2_147_483_648


def _h32(col: Column) -> Column:
    return hex_int(F.md5(col), 1, 8) - F.lit(_H32_OFFSET).cast("bigint")


def _h32_sql(expr: str) -> str:
    """DuckDB twin of _h32 over an arbitrary VARCHAR expression."""
    return f"({sql_hex_int(f'md5({expr})', 1, 8)} - {_H32_OFFSET})"


def minhash_sig_wide(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, m0..m{k-1}) — the one MinHash signature path: k
    minhashes from one base hash + k affine permutations, minhash_i =
    min over shingles of (a_i·_h32(s) + b_i), with |a|<2^31 and
    |h|<2^31 so each product fits in int64.

    Explode + hash aggregate, not higher-order array functions (which
    evaluate interpreted, CodegenFallback): every step — Generate,
    md5/_h32, k affine mins — stays inside whole-stage codegen with
    map-side partial aggregation, so the shuffle carries one combined
    row per (doc, map partition), not the exploded shingles.
    Deliberately NO collect_set here: array-state aggregates force
    ObjectHashAggregate (codegen off, heavy state);
    exact verification instead recomputes shingle sets for only the
    candidate docs (see ns_dedup_minhash).
    """
    exploded = (
        docs.select("doc_id", F.explode(shingles(_norm_col())).alias("s"))
        .withColumn("h", _h32(F.col("s")))
        .drop("s")
    )
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(
                F.lit(_MH_A[i]).cast("bigint") * F.col("h")
                + F.lit(_MH_B[i]).cast("bigint")
            ).alias(f"m{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_bands_from_sig(
    sig: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, band_id, band_hash) — LSH bucketing from wide sig.
    band_hash is the EXACT concatenation of the band's minhash values
    (no murmur3 re-hash): bucket membership is then band-value
    equality with zero collision term, identically evaluable by the
    DuckDB oracle. At 100 TB a fixed-width hash of this key shaves
    shuffle bytes — an engine-local swap that cannot add pairs, only
    (with collisions) spurious candidates the verify step removes."""
    rows_per_band = n_hashes // n_bands
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"m{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )
    return bands.select("doc_id", "band.band_id", "band.band_hash")


def minhash_candidates(d: DataFrame) -> DataFrame:
    """Distinct banded-LSH candidate pairs (doc_a < doc_b) — the ONE
    Spark candidate chain ns_dedup_minhash (Jaccard verify) and
    ns_dedup_fuzzy (edit-distance verify) both consume, so their
    candidate sets cannot drift from each other or from the shared
    oracle fragment (_minhash_cand_sql_ctes).

    persist: the signature table feeds both self-join sides and the
    band derivation, and the candidate list is consumed repeatedly
    (verify join + both sides of the id union) — without persistence
    Spark re-derives the whole upstream per consumer (measured: 12
    scans / 30 aggregates in the unpersisted plan). At 100 TB this
    is the in-memory analog of checkpointing signatures to storage
    before the LSH join, which any production near-dup pass does.

    Cache lifecycle (r13 advice #2): the candidate frame is force-
    materialized here (one count — the job the first consumer would
    have run anyway), the signature cache is released immediately
    after, and the candidate persist itself is site-evicting
    (registry.persist_evicting) so a long-running sweep/bench process
    holds at most ONE invocation's candidates, not one per call."""
    sig = minhash_sig_wide(d).persist()
    bands = minhash_bands_from_sig(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = persist_evicting(
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct(),
        "minhash_cand",
    )
    cand.count()  # materialize through the (still-cached) signatures
    sig.unpersist(blocking=True)
    return cand


def _sh_list_sql() -> str:
    """The 3-token-shingle list comprehension over `documents` —
    shared by the candidate CTEs and the Jaccard-verify CTE."""
    return (
        f"[array_to_string(string_split({_NORM}, ' ')[i:i+{SHINGLE - 1}], ' ')"
        f" FOR i IN range(1, greatest(len(string_split({_NORM}, ' '))"
        f" - {SHINGLE - 1}, 1) + 1)]"
    )


def _minhash_cand_sql_ctes() -> str:
    """The banded-LSH candidate CTE chain (shingles → _h32 → affine
    minhash signature → band keys → `cand(doc_a, doc_b)` distinct
    pairs) — shared VERBATIM by _minhash_oracle_sql (Jaccard verify)
    and ns_dedup_fuzzy's oracle (edit-distance verify), the SQL twin
    of the one minhash_candidates Spark chain."""
    sh_list = _sh_list_sql()
    mins = ",\n             ".join(
        f"MIN({_MH_A[i]} * h + {_MH_B[i]}) AS m{i}" for i in range(N_HASHES)
    )
    rpb = N_HASHES // N_BANDS
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, concat_ws('|', "
        + ", ".join(f"m{b * rpb + r}" for r in range(rpb))
        + ") AS bk FROM sig"
        for b in range(N_BANDS)
    )
    return f"""sh AS (
      SELECT doc_id, unnest(list_distinct({sh_list})) AS s
      FROM documents
    ), hashed AS (
      SELECT doc_id, {_h32_sql('s')} AS h FROM sh
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ), bands AS (
      {band_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle_sql() -> str:
    """DuckDB twin of ns_dedup_minhash, generated from the same
    constants: base hash = _h32 (md5 prefix, see _h32_sql), k affine
    permutation MINs per doc, band keys = exact value concatenation,
    self-join on band equality, exact 3-token-shingle Jaccard ≥ 0.5.
    Candidate sets are identical by construction (no murmur3 anywhere
    since r8), which is what moved this family off the rows-only list
    (r7 verdict #4 asked for one more conversion; this is the second,
    after ns_dedup_simhash). Candidate CTEs = _minhash_cand_sql_ctes
    VERBATIM (shared with ns_dedup_fuzzy)."""
    return f"""
    WITH {_minhash_cand_sql_ctes()}, shs AS (
      SELECT doc_id, list_distinct({_sh_list_sql()}) AS sh FROM documents
    ), scored AS (
      SELECT doc_a, doc_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
      FROM cand
      JOIN shs x ON x.doc_id = cand.doc_a
      JOIN shs y ON y.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5
    """


@query("ns_dedup_minhash", _minhash_oracle_sql())
def ns_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs with exact-Jaccard
    verification (jaccard ≥ 0.5), deduplicated across bands. Base
    shingle hash = _h32 (md5-derived, cross-engine) and band keys =
    exact minhash-value concatenation since r8, so the DuckDB oracle
    replays signatures, buckets, and verification bit-exactly.
    Measured cost of the md5 switch: sf0.1 solo bench 1.19 → 1.38 s
    (+0.19 s, the md5-vs-murmur3 per-shingle delta — accepted as the
    price of a hash-gated oracle; 10× ratio 1.7, unchanged shape).

    Scale path: the only shuffles are (a) the doc_id aggregate that
    builds signatures, (b) the self-join on (band_id, band_hash)
    buckets, (c) the pair dedup, and (d) the verify joins over ONLY
    the candidate docs — never an all-pairs product, and the full
    corpus is never materialized with array state. Both band sides
    come from the same persisted signature subplan (computed once;
    at oracle SFs AQE broadcasts one band side, at scale the
    sort-merge path reuses one exchange — PLANCHECK pins the
    shared-subplan property). Exact-Jaccard verification semi-joins `documents`
    down to candidate doc_ids (a tiny fraction of the corpus) and
    recomputes their shingle sets — cheaper at 100 TB than carrying a
    collect_set through the main aggregate.
    """
    d = tbl(spark, sf_dir, "documents", parallel=True)
    cand = minhash_candidates(d)
    # no .distinct(): left_semi ignores duplicate build-side keys,
    # and skipping it saves a shuffle
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    sh = d.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", shingles(_norm_col()).alias("sh")
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def _simhash_oracle_sql() -> str:
    """DuckDB twin of ns_dedup_simhash, generated from the same bit
    layout: signature bit b = bit (b mod 4) of hex nibble b//4 of
    md5(token) — md5 is byte-identical across engines and each nibble
    is read as an integer through the hex_int / sql_hex_int twin,
    plain integer arithmetic both can evaluate, which is what moved
    this operator off the rows-only list (r7 verdict #4;
    xxhash64/murmur3 have no DuckDB twin)."""
    nibs = ",\n           ".join(
        f"{sql_hex_int('md5(tok)', i + 1, 1)} AS n{i}"
        for i in range(16)
    )
    bits = ",\n           ".join(
        "CASE WHEN SUM(CASE WHEN (n{q} // {p}) % 2 = 1 THEN 1 ELSE -1 END)"
        " > 0 THEN 1 ELSE 0 END AS bit{b}".format(q=b // 4, p=2 ** (b % 4), b=b)
        for b in range(64)
    )
    # bit63 weighs -2^63 (two's-complement sign bit); every positive
    # partial sum stays <= 2^63-1 so BIGINT arithmetic never overflows
    simhash = " + ".join(f"bit{b}*{2 ** b}" for b in range(63))
    simhash += " + bit63*(CAST(-9223372036854775807 AS BIGINT) - 1)"
    bands = ",\n           ".join(
        "CAST("
        + " + ".join(f"bit{16 * k + j}*{2 ** j}" for j in range(16))
        + f" AS BIGINT) AS band{k}"
        for k in range(4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(string_split({_NORM}, ' '))) AS tok
      FROM documents
    ), nib AS (
      SELECT doc_id,
           {nibs}
      FROM toks
    ), sig AS (
      SELECT doc_id,
           {bits}
      FROM nib GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({simhash} AS BIGINT) AS simhash,
           {bands}
    FROM sig
    """


@query("ns_dedup_simhash", _simhash_oracle_sql())
def ns_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 64-bit signature = sign of per-bit sums of token
    hashes; candidate near-dups share all 4 16-bit bands except ≤1
    (pigeonhole for Hamming ≤ 16). Emits doc_id, simhash, and the 4
    band values (the join keys a full pipeline buckets on).

    Token hash = md5 (byte-identical in Spark and DuckDB): signature
    bit b is bit (b mod 4) of hex nibble b//4, i.e. the first 64 bits
    of the digest. r8 switched this from xxhash64 (no DuckDB twin ⇒
    rows-only) to md5 so the oracle replays the 64 bit-votes exactly
    — same cryptographic-quality bit independence, still one native
    hash per token. All nibble math is codegen'd substring/conv
    integer arithmetic, NOT interpreted HOFs."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    toks = F.array_distinct(F.split(_norm_col(), " "))
    # explode → md5 once per token → 16 nibble columns → ONE
    # groupBy(doc_id) holding all 64 bit votes as codegen'd
    # conditional sums (whole-stage codegen + map-side partial agg) —
    # vs 64 interpreted `F.aggregate` HOF passes per row
    # (CodegenFallback, ~10× slower), the same explode/groupBy shape
    # minhash_sig_wide uses. `split` always yields ≥1 token (even for
    # empty text), so explode drops no docs.
    hashed = d.select("doc_id", F.explode(toks).alias("tok")).select(
        "doc_id",
        *[hex_int(F.md5("tok"), i + 1, 1).alias(f"n{i}") for i in range(16)],
    )

    # Two-level vote aggregate keyed (doc_id, nibble) instead of ONE
    # 64-column wide aggregate (r15, the kmeans-means finding: wide
    # agg buffers cost ~2× the same votes — measured 1.50 s → 0.78 s
    # for this aggregate at sf0.1). Level 1 explodes the 16 nibbles
    # (row-local) and sums the 4 bit votes of each nibble; level 2
    # assembles simhash and the 4 band values as integer sums over
    # the 16 nibble rows per doc. All-integer arithmetic — exact and
    # order-free, so the emitted values are bit-identical to the
    # oracle's wide form: global bit b = 4q+p; band k = q div 4 with
    # in-band weight 2^(4(q mod 4)+p); bit 63 carries -2^63 (two's
    # complement), so positive partials never exceed 2^63-1.
    e = hashed.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"n{q}") for q in range(16)])
        ).alias("q", "n"),
    )
    votes = e.groupBy("doc_id", "q").agg(
        *[
            F.sum(
                F.when(
                    F.shiftrightunsigned(F.col("n"), p).bitwiseAND(
                        F.lit(1)
                    )
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{p}")
            for p in range(4)
        ]
    )
    bits = [
        F.when(F.col(f"v{p}") > 0, F.lit(1).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        for p in range(4)
    ]
    sim_row = None
    band_row = None
    for p in range(4):
        w = F.expr(
            f"CASE WHEN q*4+{p} = 63 THEN -9223372036854775808 "
            f"ELSE shiftleft(1L, cast(q*4+{p} as int)) END"
        )
        bw = F.expr(f"shiftleft(1L, cast((q % 4) * 4 + {p} as int))")
        t, bt = bits[p] * w, bits[p] * bw
        sim_row = t if sim_row is None else sim_row + t
        band_row = bt if band_row is None else band_row + bt
    out = votes.groupBy("doc_id").agg(
        F.sum(sim_row).alias("simhash"),
        *[
            F.sum(
                F.when(F.expr("q div 4") == k, band_row).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias(f"band{k}")
            for k in range(4)
        ],
    )
    return out


# Posting-list cap for inverted-index candidate generation: a shingle
# appearing in more than _MAX_SHINGLE_DF docs contributes O(df²)
# candidate pairs while carrying almost no dup evidence (it's corpus
# boilerplate). Dropping hot postings is the standard bound that keeps
# Σ|posting|² from exploding on real web corpora (one shingle in 10⁶
# docs would otherwise emit 10¹² pairs). On the sf-series corpora the
# max shingle DF is 4, so the cap provably changes no output here —
# both engines apply the identical cap, keeping the oracle bit-exact.
_MAX_SHINGLE_DF = 50

_NGRAM_PAIRS_SQL = f"""
    WITH toksets AS (
      SELECT doc_id, list_distinct(string_split({_NORM}, ' ')) AS toks
      FROM documents
    ), shingled AS (
      SELECT doc_id, unnest(list_distinct(
               [array_to_string(string_split({_NORM}, ' ')[i:i+4], ' ')
                FOR i IN range(1, greatest(len(string_split({_NORM}, ' ')) - 4, 1) + 1)]
             )) AS sh
      FROM documents
    ), rare AS (
      SELECT sh FROM (SELECT sh, COUNT(*) AS c FROM shingled GROUP BY sh)
      WHERE c <= {_MAX_SHINGLE_DF}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingled a JOIN shingled b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      WHERE a.sh IN (SELECT sh FROM rare)
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
             AS jaccard
    FROM cand
    JOIN toksets ta ON ta.doc_id = cand.doc_a
    JOIN toksets tb ON tb.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
          >= 0.3
    """


def _posting_pairs(keyed: DataFrame, key: str, cap: int) -> DataFrame:
    """(doc_a, doc_b) pairs (doc_a < doc_b, one row per shared key)
    from an inverted index given as (doc_id, <key>) rows — the
    single-shuffle posting-list formulation.

    ONE groupBy on the key collects the sorted posting list
    (map-side-combined), the size filter applies the hot-posting cap
    (`_MAX_SHINGLE_DF`-style), and pair emission is a map-side
    higher-order-function explode — no self-join, no semi-join, no
    second shuffle of the corpus. Scale shape: a boilerplate key in
    10⁶ docs costs 8 MB of agg buffer (8 B/doc, linear) before the
    filter drops it, instead of 5·10¹¹ joined pairs (quadratic);
    pair work is bounded by cap²/2 per key."""
    posts = (
        keyed.groupBy(key)
        .agg(F.array_sort(F.array_distinct(F.collect_list("doc_id"))).alias("docs"))
        .filter((F.size("docs") >= 2) & (F.size("docs") <= cap))
    )
    return posts.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (x, i) -> "
                "transform(slice(docs, i + 2, size(docs) - i - 1), y -> "
                "struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")


def _capped_shingle_cands(d: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from the 5-token-shingle
    inverted index, with hot postings dropped (`_MAX_SHINGLE_DF`) —
    see `_posting_pairs` for the single-shuffle scale shape."""
    sh = d.select("doc_id", F.explode(shingles(_norm_col(), 5)).alias("sh"))
    return _posting_pairs(sh, "sh", _MAX_SHINGLE_DF).distinct()


@query("ns_dedup_ngram_jaccard", _NGRAM_PAIRS_SQL)
def ns_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: inverted-index candidate
    generation (docs sharing a 5-token shingle, hot postings capped —
    see `_MAX_SHINGLE_DF`) + exact token-set Jaccard ≥ 0.3. Every
    step is a keyed join — the shingle index is the scale lever
    (rare shingles → tiny buckets).
    """
    d = tbl(spark, sf_dir, "documents", parallel=True)
    toksets = d.select(
        "doc_id", F.array_distinct(F.split(_norm_col(), " ")).alias("toks")
    )
    cand = _capped_shingle_cands(d)
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
    )


# Shared connected-component labeling over the verified near-dup pair
# graph: recursive reachability + min-label cluster ids, ending in a
# `labels(doc_id, cluster_id)` CTE. ONE definition consumed by the
# three cluster-consuming oracles (clusters / canonical /
# cluster_stats) — their Spark sides all share ns_dedup_clusters, so
# their oracles must share this labeling rule too.
_CLUSTER_LABELS_SQL = f"""
    WITH pairs AS ({_NGRAM_PAIRS_SQL}),
    bidir AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
      WITH RECURSIVE t(x, y) AS (
        SELECT a, b FROM bidir
        UNION
        SELECT t.x, bidir.b FROM t JOIN bidir ON t.y = bidir.a
      )
      SELECT * FROM t
    ),
    labels AS (
      SELECT x AS doc_id, least(x, MIN(y)) AS cluster_id
      FROM reach GROUP BY x
    )
"""


def min_label_components(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Connected-component labels over an undirected pair graph —
    iterative min-label propagation (the Pregel/GraphX pattern as
    plain DataFrames), shared by ns_dedup_clusters (doc near-dup
    graph) and ns_semdedup_components (embedding near-dup graph).

    `pairs` is any 2-column frame of edges (one row per undirected
    edge, either orientation). Each round joins labels to the
    bidirectional edge list and takes min(own, neighbors);
    convergence in ≤ graph diameter rounds. `localCheckpoint`
    truncates lineage per round — without it the plan doubles every
    iteration. Driver involvement is one count() per round (the
    convergence test), never the data. Returns (doc_id, cluster_id)
    for every vertex WITH at least one edge; callers re-attach
    singletons with a left join + coalesce(label, own id).
    The DuckDB oracle twin is the same fixpoint via a recursive CTE
    (_CLUSTER_LABELS_SQL's reach/labels shape)."""
    a, b = pairs.columns
    # persist: every propagation round joins the edge list — without
    # it the whole upstream pair pipeline would re-run per iteration
    edges = (
        pairs.union(pairs.select(F.col(b).alias(a), F.col(a).alias(b)))
        .toDF("src", "dst")
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    # Size the per-round shuffles to the PAIR GRAPH, not the corpus:
    # after banding/verification the edge list is orders of magnitude
    # smaller than the input, and each propagation round is 2 joins +
    # 1 aggregate + 1 count, so per-round fixed cost scales with the
    # shuffle partition count. ~100k edges per partition; restored
    # after the loop (the final labels are already materialized).
    n_edges = edges.count()
    loop_parts = max(1, min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                            n_edges // 100_000 + 1))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        for _ in range(30):  # cap ≫ any plausible dup-graph diameter
            nbr_min = (
                labels.join(edges, labels.doc_id == edges.src)
                .groupBy("dst")
                .agg(F.min("label").alias("nbr_label"))
            )
            updated = (
                labels.join(nbr_min, labels.doc_id == nbr_min.dst, "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("label"), F.coalesce("nbr_label", "label")
                    ).alias("label"),
                    (F.coalesce("nbr_label", "label") < F.col("label")).alias(
                        "changed"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            n_changed = updated.filter("changed").count()
            labels = updated.select("doc_id", "label")
            if n_changed == 0:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        # final labels are eagerly localCheckpointed — the edge cache
        # has no further consumer (r14 persist-lifecycle audit)
        edges.unpersist(blocking=True)
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


@query(
    "ns_dedup_clusters",
    _CLUSTER_LABELS_SQL + "SELECT doc_id, cluster_id FROM labels",
)
def ns_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the verified
    near-dup pair graph (edges = ngram-Jaccard ≥ 0.3), cluster id =
    min doc_id in the component — the canonical 'keep one per
    cluster' step after pairwise dedup. Body = the shared
    min_label_components fixpoint (see its docstring for the
    per-round shape and scale notes)."""
    pairs = ns_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return min_label_components(spark, pairs)


# ---------- benchmark decontamination ----------


@query(
    "ns_contamination_ngram",
    f"""
    WITH shingled AS (
      SELECT doc_id, source, unnest(list_distinct(
               [array_to_string(string_split({_NORM}, ' ')[i:i+4], ' ')
                FOR i IN range(1, greatest(len(string_split({_NORM}, ' ')) - 4, 1) + 1)]
             )) AS sh
      FROM documents
    ),
    corpus AS (SELECT doc_id, sh FROM shingled WHERE source <> 'src0'),
    eval_sh AS (SELECT DISTINCT sh FROM shingled WHERE source = 'src0'),
    totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hit
      FROM corpus c JOIN eval_sh e USING (sh)
      GROUP BY 1
    )
    SELECT t.doc_id, t.n_shingles,
           COALESCE(h.n_hit, 0) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles
             AS contamination,
           CASE WHEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_shingles
                     >= 0.2
                THEN 1 ELSE 0 END AS is_contaminated
    FROM totals t LEFT JOIN hits h ON h.doc_id = t.doc_id
    """,
)
def ns_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of
    its distinct 5-token shingles that also appear in the eval set
    (docs with source = 'src0' stand in for the held-out benchmark).
    Training pipelines drop or flag documents above a threshold
    before a run, so the eval data cannot leak into training.

    Scale shape: the eval shingle set is keyed by shingle — a plain
    shuffle join that AQE downgrades to broadcast when the benchmark
    is small (the usual case); the corpus side is the exploded
    (doc_id, shingle) stream, so nothing corpus-sized is ever
    collected or broadcast, and the wide text column is dropped
    before the shuffle. Zero-hit documents are preserved by the left
    join against per-doc shingle totals."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    shingled = d.select(
        "doc_id", "source", F.explode(shingles(_norm_col(), 5)).alias("sh")
    )
    corpus = shingled.filter(F.col("source") != "src0").select("doc_id", "sh")
    eval_sh = (
        shingled.filter(F.col("source") == "src0").select("sh").distinct()
    )
    totals = corpus.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        corpus.join(eval_sh, "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    contamination = F.col("n_hit").cast("double") / F.col("n_shingles")
    return (
        totals.join(hits, "doc_id", "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .withColumn("contamination", contamination)
        .withColumn(
            "is_contaminated",
            F.when(contamination >= 0.2, 1).otherwise(0),
        )
        .select(
            "doc_id", "n_shingles", "n_hit", "contamination",
            "is_contaminated",
        )
    )


# ---------- containment dedup ----------


@query(
    "ns_dedup_containment",
    f"""
    WITH toksets AS (
      SELECT doc_id, list_distinct(string_split({_NORM}, ' ')) AS toks
      FROM documents
    ), shingled AS (
      SELECT doc_id, unnest(list_distinct(
               [array_to_string(string_split({_NORM}, ' ')[i:i+4], ' ')
                FOR i IN range(1, greatest(len(string_split({_NORM}, ' ')) - 4, 1) + 1)]
             )) AS sh
      FROM documents
    ), rare AS (
      SELECT sh FROM (SELECT sh, COUNT(*) AS c FROM shingled GROUP BY sh)
      WHERE c <= {_MAX_SHINGLE_DF}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingled a JOIN shingled b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      WHERE a.sh IN (SELECT sh FROM rare)
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
             / least(len(ta.toks), len(tb.toks)) AS containment
    FROM cand
    JOIN toksets ta ON ta.doc_id = cand.doc_a
    JOIN toksets tb ON tb.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
          / least(len(ta.toks), len(tb.toks)) >= 0.6
    """,
)
def ns_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.6 over
    distinct token sets. Jaccard misses subset duplicates (a page
    plus the same page wrapped in boilerplate scores low on union
    but ~1.0 on containment) — web-scrape dedup runs both. Candidate
    generation is the same DF-capped shingle inverted index as
    ns_dedup_ngram_jaccard (`_capped_shingle_cands`): every step a
    keyed join, exact set math on candidates only."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    toksets = d.select(
        "doc_id", F.array_distinct(F.split(_norm_col(), " ")).alias("toks")
    )
    cand = _capped_shingle_cands(d)
    ta = toksets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    tb = toksets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    containment = inter / F.least(F.size("ta"), F.size("tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= 0.6)
        .select("doc_a", "doc_b", "containment")
    )


@query(
    "ns_dedup_canonical",
    _CLUSTER_LABELS_SQL
    + """
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           d.n_chars,
           CAST(CASE WHEN row_number() OVER (
               PARTITION BY COALESCE(c.cluster_id, d.doc_id)
               ORDER BY d.n_chars DESC, d.doc_id) = 1
             THEN 1 ELSE 0 END AS INT) AS keep
    FROM documents d LEFT JOIN labels c USING (doc_id)
    """,
)
def ns_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's DELIVERABLE: a keep/drop manifest. Every
    doc gets its duplicate-cluster id (itself if unclustered) and a
    keep flag — the canonical representative is the longest doc in
    the cluster (ties → lowest doc_id), everything else is dropped.
    This is the step that turns pairwise/cluster dedup output into
    the filtered training corpus.

    Scale: clusters come from the label-propagation component pass
    (shuffles sized to the pair graph); the manifest itself is one
    left join on doc_id plus one row_number window partitioned by
    cluster_id — both keyed shuffles, no skew (cluster sizes are
    dup-group sizes, bounded by the near-dup structure, and the
    window per cluster is O(|cluster| log |cluster|))."""
    clusters = ns_dedup_clusters(spark, sf_dir)
    d = tbl(spark, sf_dir, "documents")
    joined = d.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        "n_chars",
    )
    w = W.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return joined.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )


@query(
    "ns_dedup_exact_substring",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(1, greatest(length(text) - 39, 1) + 1, 8)) AS i
      FROM documents WHERE length(text) >= 40
    ),
    w AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 40) AS win
      FROM idx
    ),
    rare AS (
      SELECT win FROM (SELECT win, COUNT(*) AS c FROM w GROUP BY win)
      WHERE c <= {cap}
    ),
    wr AS (
      SELECT doc_id, win FROM w WHERE win IN (SELECT win FROM rare)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM wr a JOIN wr b ON a.win = b.win AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """.replace("{cap}", str(_MAX_SHINGLE_DF)),
)
def ns_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication: doc pairs sharing at least one
    verbatim 40-char window (stride 8), with the count of shared
    distinct windows — the fixed-window approximation of
    suffix-array substring dedup, which catches boilerplate/quoted
    passages that whole-doc MinHash dilutes away.

    Scale: windows explode per doc (bounded by len/stride, not the
    corpus), are DISTINCTed per doc, and the pair generation is a
    keyed self-join on the window value — work is Σ|posting|² over
    window postings, the inverted-index shape, never all-pairs.
    Hot windows (corpus boilerplate: a copyright footer appearing in
    10⁶ docs would emit 5·10¹¹ pairs) are dropped via the same
    `_MAX_SHINGLE_DF` posting cap as the shingle dedups — on the
    sf-series corpora the max window DF is 4, so the cap is provably
    output-neutral there; both engines apply it identically. At
    100 TB the join key would be xxhash64(win) (8-byte shuffle
    payload, re-verify the string on the candidate minority); the
    raw-string key here keeps the DuckDB oracle bit-identical.
    The stride misses overlaps shorter than 47 chars that straddle
    offsets — the standard stride/recall trade of windowed substring
    dedup."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    wins = (
        d.filter(F.length("text") >= 40)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.length("text") - F.lit(39), F.lit(1)),
                    F.lit(8),
                )
            ).alias("i"),
        )
        .select("doc_id", F.expr("substring(text, i, 40)").alias("win"))
    )
    # Posting-list pair generation with the hot-window cap — one
    # shuffle on the window value, no self-join (see _posting_pairs).
    # array_distinct inside the agg replaces the per-doc DISTINCT
    # (duplicate windows within one doc collapse in the posting list).
    return (
        _posting_pairs(wins, "win", _MAX_SHINGLE_DF)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )


@query(
    "ns_dedup_cluster_stats",
    _CLUSTER_LABELS_SQL
    + """
    , sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size
      FROM labels GROUP BY cluster_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
)
def ns_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the near-dup connected components —
    the dedup-report number every corpus pipeline publishes (how much
    is duplicated, and in how large clumps: a few giant clusters
    means template/boilerplate contamination, many pairs means true
    near-dups). Composes `ns_dedup_clusters`; the two extra
    aggregates are over the LABEL table (≪ corpus), so the cost is
    the component computation it already shares."""
    labels = ns_dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )


@query(
    "ns_dedup_incremental",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_CKEY} AS ckey
      FROM documents
    ),
    base AS (
      SELECT ckey, MIN(doc_id) AS keeper
      FROM h WHERE doc_id % 2 != 0 GROUP BY ckey
    ),
    delta AS (SELECT doc_id, ckey FROM h WHERE doc_id % 2 = 0),
    dmin AS (SELECT ckey, MIN(doc_id) AS m FROM delta GROUP BY ckey)
    SELECT d.doc_id,
           CASE WHEN b.keeper IS NOT NULL THEN 'dup_of_base'
                WHEN d.doc_id > dm.m THEN 'dup_in_delta'
                ELSE 'keep' END AS status,
           CASE WHEN b.keeper IS NOT NULL THEN CAST(b.keeper AS BIGINT)
                WHEN d.doc_id > dm.m THEN CAST(dm.m AS BIGINT)
           END AS keeper_doc_id
    FROM delta d
    LEFT JOIN base b USING (ckey)
    JOIN dmin dm USING (ckey)
    """,
)
def ns_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-ingest reality at 100 TB: the
    DELTA batch is deduped against the persisted corpus INDEX (one
    (canonical_key, keeper) row per known key), never by re-deduping
    the whole corpus. Every delta doc gets a verdict: dup_of_base
    (key already in the index → drop, keeper recorded), dup_in_delta
    (first occurrence within the batch wins), or keep (new key →
    would be appended to the index).

    The synthetic split is doc_id parity (even = delta) and the
    canonical key is the 3-token normalized prefix — a stand-in with
    real collisions on this corpus (the full-text sha256 of
    `ns_dedup_exact` has zero duplicates here, which would leave the
    dup paths vacuously untested; in production the key is that hash
    or the canonical URL). The MECHANISM is what scales: the index
    side is (key, keeper) only — bytes per known document — the
    delta joins against it by key (bucketed by key prefix at 100 TB,
    AQE-broadcast when the delta is small), and intra-delta dedup is
    one min-aggregate over the batch. Cost is O(|delta| + index
    probe), never O(|corpus|)."""
    d = tbl(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        _ckey_col().alias("ckey"),
    )
    base = (
        h.filter(F.col("doc_id") % 2 != 0)
        .groupBy("ckey")
        .agg(F.min("doc_id").alias("keeper"))
    )
    delta = h.filter(F.col("doc_id") % 2 == 0)
    dmin = delta.groupBy("ckey").agg(F.min("doc_id").alias("m"))
    return (
        delta.join(base, "ckey", "left")
        .join(dmin, "ckey")
        .select(
            "doc_id",
            F.when(F.col("keeper").isNotNull(), F.lit("dup_of_base"))
            .when(F.col("doc_id") > F.col("m"), F.lit("dup_in_delta"))
            .otherwise(F.lit("keep"))
            .alias("status"),
            F.when(F.col("keeper").isNotNull(), F.col("keeper"))
            .when(F.col("doc_id") > F.col("m"), F.col("m"))
            .cast("bigint")
            .alias("keeper_doc_id"),
        )
    )


@query(
    "ns_dedup_soft_weights",
    f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             {_CKEY} AS ckey
      FROM documents
    ),
    g AS (
      SELECT ckey, MIN(doc_id) AS keeper,
             CAST(COUNT(*) AS BIGINT) AS weight,
             CAST(SUM(n_chars) AS BIGINT) AS group_chars
      FROM h GROUP BY ckey
    )
    SELECT h.doc_id, g.weight, g.group_chars
    FROM h JOIN g ON h.ckey = g.ckey AND h.doc_id = g.keeper
    """,
)
def ns_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup (document reweighting): instead of dropping
    duplicates, keep ONE representative per duplicate group carrying
    weight = group size — the training-data technique that preserves
    the natural frequency signal (a doc seen 40x on the web is
    upweighted 40x at loss time) while paying storage/compute for one
    copy. Group key is the 3-token normalized prefix (the collision-
    bearing stand-in used across the dedup family; production uses
    the exact-hash or canonical-URL key).

    Scale shape: ONE (ckey) hash aggregate produces keeper + weight +
    reclaimed volume, and the keeper join back is on the same key —
    the whole operator rides a single shuffle (same index shape as
    ns_dedup_incremental, which consumes these weights on the next
    ingest)."""
    d = tbl(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "n_chars",
        _ckey_col().alias("ckey"),
    )
    g = h.groupBy("ckey").agg(
        F.min("doc_id").alias("keeper"),
        F.count("*").cast("bigint").alias("weight"),
        F.sum("n_chars").cast("bigint").alias("group_chars"),
    )
    return (
        h.join(g, "ckey")
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "weight", "group_chars")
    )


# ---------- n-gram novelty ----------

# 8-token shingles: long enough that cross-document collisions mean
# real shared phrasing (the contamination-ngram precedent), short
# enough that every fixture doc yields a saturated shingle set.
_NOVELTY_K = 8


def _novelty_sql() -> str:
    sh_list = (
        f"[array_to_string(string_split({_NORM}, ' ')"
        f"[i:i+{_NOVELTY_K - 1}], ' ')"
        f" FOR i IN range(1, greatest(len(string_split({_NORM}, ' '))"
        f" - {_NOVELTY_K - 1}, 1) + 1)]"
    )
    return f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_transform(list_distinct({sh_list}),
                              s -> {_h32_sql('s')}))) AS fp
      FROM documents
    ),
    firsts AS (SELECT fp, MIN(doc_id) AS first_doc FROM sh GROUP BY fp),
    per AS (
      SELECT sh.doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
               AS n_novel
      FROM sh JOIN firsts f ON sh.fp = f.fp
      GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_sh, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(per.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN per.n_sh > 0
                THEN per.n_novel / CAST(per.n_sh AS DOUBLE)
                ELSE NULL END AS novelty
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    """


@query("ns_ngram_novelty", _novelty_sql())
def ns_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct 8-token shingles whose FIRST corpus occurrence (min
    doc_id — ingest-order proxy) is this document. The marginal-value
    curve behind dedup-aware data valuation ("how much genuinely new
    text does each document add?"): near-duplicates and
    boilerplate-heavy docs score near 0, fresh text near 1 — the
    per-document complement to the corpus-level dedup family, and the
    metric a curation pipeline thresholds to drop low-information
    late arrivals without computing explicit pairs.

    Determinism: shingles are the dedup family's normalized token
    shingles hashed through _h32 (md5-derived, byte-identical in
    DuckDB); firsts/counts are exact integer min/count; novelty is
    ONE int/int double division behind an n>0 gate that can't diverge
    (left-joined docs with no shingles surface as 0/0/NULL on both
    engines).

    Scale: shingle extraction + hashing + per-doc distinct are
    row-local array HOFs in the scan projection (the 8-byte hash —
    not the 8-token string — is what shuffles, the _h32 width
    precedent); ONE fp-keyed hash aggregate for first-occurrence,
    ONE fp-keyed equi-join back (both bucketed on the same key, and
    AQE coalesces the two exchanges), then a doc_id-keyed rollup.
    No candidate pairs, no windows, no BNLJ at any corpus size."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    ex = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    shingles(_norm_col(), _NOVELTY_K), _h32
                )
            )
        ).alias("fp"),
    )
    firsts = ex.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    per = (
        ex.join(firsts, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        d.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_sh"), F.lit(0))
            .cast("bigint")
            .alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0))
            .cast("bigint")
            .alias("n_novel"),
            F.when(
                F.col("n_sh") > 0,
                F.col("n_novel") / F.col("n_sh").cast("double"),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("novelty"),
        )
    )


# ---------- source-to-source overlap (dataset audit) ----------


def _source_overlap_sql() -> str:
    sh_list = (
        f"[array_to_string(string_split({_NORM}, ' ')[i:i+{SHINGLE - 1}], ' ')"
        f" FOR i IN range(1, greatest(len(string_split({_NORM}, ' '))"
        f" - {SHINGLE - 1}, 1) + 1)]"
    )
    mins = ",\n             ".join(
        f"MIN({_MH_A[i]} * h + {_MH_B[i]}) AS m{i}"
        for i in range(N_HASHES)
    )
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
        for i in range(N_HASHES)
    )
    return f"""
    WITH sh AS (
      SELECT source, unnest(list_distinct({sh_list})) AS s
      FROM documents
    ),
    hx AS (SELECT source, {_h32_sql('s')} AS h FROM sh),
    sig AS (
      SELECT source,
             {mins}
      FROM hx GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST({matches} AS BIGINT) AS n_match,
           ({matches}) / CAST({N_HASHES} AS DOUBLE) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    """


@query("ns_source_overlap", _source_overlap_sql())
def ns_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-to-source content overlap: one MinHash signature PER
    SOURCE (min over the union of its documents' shingle hashes — min
    is associative, so the per-source signature is exactly the
    signature of the pooled shingle set) and the pairwise
    matching-component fraction as the resemblance estimate — the
    dataset-overlap audit run BEFORE mixing corpora (two sources with
    high resemblance double-count their content in the mixture;
    E[est_jaccard] = true Jaccard of the pooled shingle sets, the
    Broder resemblance estimator). Per-document dedup finds duplicate
    DOCS; this finds duplicate DATASETS.

    Determinism: the same md5-derived _h32 base hashes and k affine
    permutations every minhash operator shares (exact integer mins
    replay in DuckDB); n_match and est_jaccard are exact integer
    comparisons over identical signatures.

    Scale: ONE corpus pass (shingle → hash → explode) into a
    |sources|-row keyed aggregate whose map-side combine collapses
    each partition to |sources|·k running mins before the exchange;
    the pairwise grid is a |sources|²-bounded self-join over the
    20-row signature frame — never the corpus. Adding a source re-mins
    only that source's partition (the signature is mergeable)."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    ex = d.select(
        "source", F.explode(shingles(_norm_col())).alias("s")
    ).select("source", _h32(F.col("s")).alias("h"))
    sig = ex.groupBy("source").agg(
        *[
            F.min(
                F.lit(_MH_A[i]).cast("bigint") * F.col("h")
                + F.lit(_MH_B[i]).cast("bigint")
            ).alias(f"m{i}")
            for i in range(N_HASHES)
        ]
    )
    a = sig.select(
        F.col("source").alias("src_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    b = sig.select(
        F.col("source").alias("src_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    matches = None
    for i in range(N_HASHES):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    return (
        a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            matches.cast("bigint").alias("n_match"),
            (matches / F.lit(float(N_HASHES))).alias("est_jaccard"),
        )
    )


# ---------- fuzzy dedup: LSH candidates + edit-distance verify ----------

# Edit-distance verification runs on a bounded normalized PREFIX —
# full-text Levenshtein is O(len²) per pair and a production fuzzy
# pass always verifies on a capped field (title/head); 80 chars
# covers the synthetic corpus's discriminative head.
_FUZZY_PREFIX = 80
# is_dup ⇔ edit_dist · 5 ≤ max(len_a, len_b): the ≤20% threshold as
# PURE INTEGER arithmetic (no float ratio on the decision path).
_FUZZY_DENOM = 5


def _fuzzy_sql() -> str:
    """Candidate CTEs = _minhash_cand_sql_ctes VERBATIM; only the
    prefix/levenshtein verify is new."""
    return f"""
    WITH {_minhash_cand_sql_ctes()}, pref AS (
      SELECT doc_id, substr({_NORM}, 1, {_FUZZY_PREFIX}) AS pref
      FROM documents
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(x.pref, y.pref) AS BIGINT) AS edit_dist,
             CAST(greatest(length(x.pref), length(y.pref)) AS BIGINT)
               AS max_len
      FROM cand c
      JOIN pref x ON x.doc_id = c.doc_a
      JOIN pref y ON y.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, edit_dist,
           CAST(edit_dist AS DOUBLE) / max_len AS edit_ratio,
           CAST(CASE WHEN edit_dist * {_FUZZY_DENOM} <= max_len
                     THEN 1 ELSE 0 END AS BIGINT) AS is_dup
    FROM verified
    """


@query("ns_dedup_fuzzy", _fuzzy_sql())
def ns_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup verification: the banded MinHash-LSH candidate
    pairs (the SHARED minhash_candidates chain — identical candidate
    sets to ns_dedup_minhash by construction) verified with exact
    Levenshtein edit distance on the normalized {p}-char prefix —
    the production two-stage fuzzy dedup (cheap sketch candidates →
    exact edit-distance confirm) for near-dups that token-level
    Jaccard misses (character-level noise: OCR errors, diffs inside
    words). Emits EVERY candidate with its distance, ratio, and the
    integer-arithmetic ≤20% verdict (edit_dist·{d} ≤ max_len), so a
    pipeline can re-threshold without re-running the join.

    Determinism: both engines implement standard Wagner-Fischer
    Levenshtein (exact integers, spot-equal across engines on the
    repo fixtures); the decision is pure integer arithmetic; the
    reported ratio is one int/int double division.

    Scale: candidate generation is the audited LSH shape (banded
    self-join, never all-pairs); the verify joins touch only
    candidate doc_ids; per-pair cost is capped at {p}² DP cells by
    the prefix bound — at 100 TB the edit-distance stage is linear
    in candidates, and the prefix cap is what keeps a pathological
    long-doc pair from stalling an executor."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    cand = minhash_candidates(d)
    pref = d.select(
        "doc_id",
        F.substring(_norm_col(), 1, _FUZZY_PREFIX).alias("pref"),
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"), F.col("pref").alias("pa"))
    pb = pref.select(F.col("doc_id").alias("doc_b"), F.col("pref").alias("pb"))
    v = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("bigint").alias("edit_dist"),
            F.greatest(F.length("pa"), F.length("pb"))
            .cast("bigint")
            .alias("max_len"),
        )
    )
    return v.select(
        "doc_a",
        "doc_b",
        "edit_dist",
        (F.col("edit_dist").cast("double") / F.col("max_len")).alias(
            "edit_ratio"
        ),
        F.when(
            F.col("edit_dist") * _FUZZY_DENOM <= F.col("max_len"), 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_dup"),
    )


ns_dedup_fuzzy.__doc__ = ns_dedup_fuzzy.__doc__.format(
    p=_FUZZY_PREFIX, d=_FUZZY_DENOM
)


# ---------- MinHash estimator calibration ----------


def _minhash_est_oracle_sql() -> str:
    """DuckDB twin of ns_minhash_est_error: the shared candidate CTE
    chain (which already defines `sig` with the 16 minhash columns),
    then per-pair signature agreement vs exact shingle Jaccard.
    n_agree is an integer count, est_jaccard one fixed division by
    N_HASHES, jaccard the same exact division the minhash verify
    uses — every column replays bit-exactly."""
    agree = " + ".join(
        f"CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END"
        for i in range(N_HASHES)
    )
    return f"""
    WITH {_minhash_cand_sql_ctes()}, shs AS (
      SELECT doc_id, list_distinct({_sh_list_sql()}) AS sh FROM documents
    )
    SELECT cand.doc_a, cand.doc_b,
           CAST({agree} AS BIGINT) AS n_agree,
           CAST({agree} AS DOUBLE) / {N_HASHES} AS est_jaccard,
           CAST(len(list_intersect(sx.sh, sy.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(sx.sh, sy.sh))) AS jaccard,
           abs(CAST({agree} AS DOUBLE) / {N_HASHES}
               - CAST(len(list_intersect(sx.sh, sy.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(sx.sh, sy.sh))))
             AS abs_err
    FROM cand
    JOIN sig x ON x.doc_id = cand.doc_a
    JOIN sig y ON y.doc_id = cand.doc_b
    JOIN shs sx ON sx.doc_id = cand.doc_a
    JOIN shs sy ON sy.doc_id = cand.doc_b
    """


@query("ns_minhash_est_error", _minhash_est_oracle_sql())
def ns_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every banded-LSH candidate
    pair, the sketch's Jaccard ESTIMATE (fraction of the 16 minhash
    slots that agree — the unbiased estimator the sketch exists to
    provide) beside the EXACT shingle Jaccard and their absolute
    error. This is the eval an operator team runs before trusting a
    sketch at 100 TB: the per-pair error distribution tells you
    whether k=16 suffices for your dedup threshold or the signature
    needs widening (stderr ≈ sqrt(J(1−J)/k)), the same
    index-trust pattern as ns_ann_recall_eval for the IVF path.

    Spark form: ONE persisted signature aggregate feeds both the
    banding self-join (the same band derivation minhash_candidates
    uses, from the same minhash_sig_wide frame) and the per-pair
    agreement count; exact Jaccard recomputes shingles only for
    candidate docs via the same semi-join ns_dedup_minhash uses.
    No all-pairs product anywhere — candidates bound every join.

    Determinism: n_agree is an integer count over bit-identical
    signatures (md5-derived _h32 base hash), est_jaccard and jaccard
    are single divisions of exact integers, abs_err one subtraction
    of those two quotients — all four replay bit-exactly in the
    DuckDB twin, which consumes the SAME candidate/signature CTE
    chain as the minhash/fuzzy oracles."""
    d = tbl(spark, sf_dir, "documents", parallel=True)
    # one persisted signature frame feeds the band self-join AND the
    # per-pair agreement count (minhash_candidates would rebuild and
    # drop its own copy, doubling the md5/minhash pass — the one
    # genuinely expensive stage of this operator)
    sig = persist_evicting(
        minhash_sig_wide(d), "minhash_est_sig",
    )
    bands = minhash_bands_from_sig(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_HASHES)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_HASHES)],
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    ).cast("bigint")
    cand_ids = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b").alias("doc_id"))
    )
    sh = d.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", shingles(_norm_col()).alias("sh")
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    est = F.col("n_agree").cast("double") / F.lit(float(N_HASHES))
    return (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .withColumn("n_agree", n_agree)
        .join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            est.alias("est_jaccard"),
            jac.alias("jaccard"),
            F.abs(est - jac).alias("abs_err"),
        )
    )
