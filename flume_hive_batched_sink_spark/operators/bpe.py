"""[NS] — BPE tokenizer training + application (r10).

`ns_bpe_merges` (train) / `ns_bpe_encode` (apply): the first merge
rounds of byte-pair-encoding
tokenizer training (Sennrich et al. 2016) over the documents corpus —
the one training-data-pipeline stage (tokenizer fitting) the engine
did not cover. Exactly the classic algorithm: build the word
frequency table, split words into symbol sequences, count adjacent
symbol pairs weighted by word frequency, merge the most frequent pair
corpus-wide, repeat. Registered with TWO rounds so the oracle
geometry is fixed; production runs the same loop to the target merge
count (the kmeans_assign iterative-driver pattern).

Cross-engine exactness: pair counts are integer sums; the merge is a
LITERAL string replace over symbol sequences in which EVERY symbol is
wrapped in spaces (" a  b  c " — single space at the ends, double
between symbols). The pattern " l  r " → " lr " is therefore anchored
on BOTH sides: " l " can only match the complete symbol l and " r "
the complete symbol r (symbols never contain spaces), so a following
symbol that merely STARTS with r can never over-merge (" c  ab " is
NOT hit by the (c, a) merge — the r10 code-review counterexample that
killed the earlier left-anchored-only format), and because the
replacement " lr " restores the wrap invariant, left-to-right
non-overlapping replace implements exactly BPE's greedy pass
(" a  a  a " → " aa  a ", " a  a  a  a " → " aa  aa "). Ties on the
pair count break lexicographically. All verified
primitive-by-primitive on both engines before this operator shipped
(twice — the fix's counterexamples are pinned in the property
test).

Scale shape: the corpus collapses to the WORD FREQUENCY table in one
hash aggregate (Zipf: |distinct words| ≪ corpus tokens — this is why
BPE trainers run on word counts, not raw text), and every round after
that touches only the word table: an explode + keyed count
(map-side combined) for the pair statistics, ONE global aggregate
over it for the winner and the pair-type count, a row-local literal
replace for the merge, and the symbol-count aggregate. Those are the
round's two driver actions, each a 1-row collect — the Lloyd-loop
pattern (bounded driver coordination, never data); the pair table is
never persisted. At 30k production merges, localCheckpoint the word
table every ~100 rounds to cap lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import local_frame, query, tbl

_BPE_ROUNDS = 2  # fixed oracle geometry; production loops to ~30k


def _word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents", parallel=True)
    w = F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("word")
    return (
        d.select(w)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency. `seqs` has
    (cnt, seq) where seq is the space-wrapped symbol string."""
    syms = F.split(F.trim(F.col("seq")), " +")
    sz = F.size(syms)
    pairs = F.arrays_zip(
        F.slice(syms, 1, sz - 1).alias("l"),
        F.slice(syms, 2, sz - 1).alias("r"),
    )
    return (
        seqs.filter(sz >= 2)
        .select("cnt", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )


def initial_seqs(wf: DataFrame) -> DataFrame:
    """Space-wrapped char sequences for a word-frequency table — the
    seq format of the trained tokenizer state."""
    return wf.select(
        "word",
        "cnt",
        F.regexp_replace(F.col("word"), "(.)", " $1 ").alias("seq"),
    )


def bpe_train(
    spark: SparkSession,
    sf_dir: str,
    rounds: int = _BPE_ROUNDS,
    checkpoint_every: int = 25,
) -> tuple[DataFrame, list]:
    """Run `rounds` BPE merges; returns (seqs, stats) where `seqs` is
    the final merged vocabulary table (word, cnt, seq — the trained
    tokenizer state ns_bpe_encode applies) and `stats` is one tuple
    per round: (round, merge_left, merge_right, pair_count,
    n_pair_types, n_symbols_after). Driver coordination is bounded:
    per round exactly two actions, each a 1-row collect — one
    aggregate over the pair counts (count(*) for n_pair_types,
    min(struct(-c, l, r)) for the winner: the first row of the
    `c DESC, l, r` order) and the symbol-count aggregate after the
    merge — the kmeans Lloyd-loop shape. The pair-count table is never
    persisted: that aggregate is its one consumer. Stops cleanly when
    no adjacent pairs remain (merge exhaustion, n_pair_types == 0 —
    reachable long before a production 30k-merge target on small
    vocabularies).

    `checkpoint_every`: localCheckpoint the sequence table every N
    merge rounds (0 disables). Each round stacks one replace()
    projection onto the plan, so a production 30k-merge run would
    otherwise carry a 30k-deep lineage — analysis cost grows per
    round and every round RECOMPUTES the word-frequency aggregate
    plus all prior merges from the source scan. Deep runs (rounds >
    cadence) additionally materialize the INITIAL word table, so
    round 1 already reads a local RDD. Measured (SCALING.md, "BPE
    deep training loop": 200 rounds, 10x-words corpus): per-round
    cost is FLAT at ~0.4-0.5 s once past the first checkpoint vs
    2.4->2.9 s and GROWING without the cadence — the checkpoint is
    worth ~5x per round, not just lineage hygiene. Values are
    bit-identical either way (the replace chain is deterministic —
    property-tested), and the registered 2-round operators never
    reach the cadence, keeping their audited parquet-scan plans
    byte-stable."""
    from .registry import persist_evicting

    # Persist the INITIAL vocabulary within the invocation (guide
    # §5): every round issues 2 actions (pair statistics, symbol
    # metric) and each one would re-run the word-frequency
    # scan+explode+aggregate from parquet. The per-round replace() chain
    # stays lazy on top of the cached base (row-local, trivially
    # recomputed); deep runs additionally re-materialize via the
    # localCheckpoint cadence below.
    seqs = persist_evicting(
        initial_seqs(_word_freq(spark, sf_dir)), "bpe.initial_seqs"
    )
    if checkpoint_every and rounds > checkpoint_every:
        # deep run: materialize the word table up front (round-0
        # checkpoint) — shallow-run plans (the registered operators)
        # are untouched
        seqs = seqs.localCheckpoint(eager=True)
    out = []
    for rnd in range(1, rounds + 1):
        # ONE aggregate for the round's pair statistics: the number of
        # pair types and the winner — struct order is field by field,
        # so min(struct(-c, l, r)) is the first row of ORDER BY c
        # DESC, l, r
        n_types, top = (
            _pair_counts(seqs)
            .agg(
                F.count("*"),
                F.min(F.struct((-F.col("c")).alias("nc"), "l", "r")),
            )
            .collect()[0]
        )
        if n_types == 0:  # merge exhaustion: every word is one symbol
            break
        seqs = seqs.select(
            "word",
            "cnt",
            F.replace(
                F.col("seq"),
                F.lit(f" {top.l}  {top.r} "),
                F.lit(f" {top.l}{top.r} "),
            ).alias("seq"),
        )
        n_sym = seqs.agg(
            F.sum(
                F.col("cnt") * F.size(F.split(F.trim(F.col("seq")), " +"))
            ).cast("bigint")
        ).collect()[0][0]
        out.append((rnd, top.l, top.r, -top.nc, n_types, n_sym))
        if checkpoint_every and rnd % checkpoint_every == 0:
            seqs = seqs.localCheckpoint(eager=True)
    return seqs, out


def _require_rounds(out: list, rounds: int) -> None:
    """The REGISTERED operators pin a fixed round count the SQL twin
    replays unconditionally — an exhausted corpus (fewer merges than
    rounds) cannot be expressed by that oracle (empty t{rnd} scalar
    subqueries would NULL-poison it), so fail LOUDLY instead of
    hash-mismatching. bpe_train itself (the production API) stops
    cleanly; only the fixed-geometry registered form has this
    precondition. Every test corpus satisfies it (multi-char words
    with repeated pairs; pinned by the fixture tests)."""
    if len(out) < rounds:
        raise ValueError(
            f"corpus exhausted after {len(out)} BPE merges; the "
            f"registered {rounds}-round oracle geometry cannot replay "
            "exhaustion — call bpe_train directly for variable-round "
            "training"
        )


def bpe_merge_rounds(
    spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS
) -> DataFrame:
    """Per-round merge statistics as a DataFrame (see bpe_train)."""
    _seqs, out = bpe_train(spark, sf_dir, rounds)
    _require_rounds(out, rounds)
    return local_frame(
        spark,
        out,
        "round bigint, merge_left string, merge_right string, "
        "pair_count bigint, n_pair_types bigint, n_symbols_after bigint",
    )


def _sql_round(prev: str, rnd: int) -> str:
    """CTEs for one merge round over sequence table `prev` (word-freq
    rows with a space-wrapped `seq`): pair counts p{rnd}, winner
    t{rnd}, merged sequences s{rnd}."""
    return f"""
    p{rnd} AS (
      SELECT t.syms[i.i] AS l, t.syms[i.i + 1] AS r, SUM(t.cnt) AS c
      FROM (SELECT cnt, string_split_regex(trim(seq), ' +') AS syms
            FROM {prev}) t,
           LATERAL (SELECT unnest(range(1, len(t.syms))) AS i) i
      GROUP BY 1, 2
    ),
    t{rnd} AS (SELECT l, r, c FROM p{rnd} ORDER BY c DESC, l, r LIMIT 1),
    s{rnd} AS (
      SELECT word, cnt,
             replace(seq,
                     ' ' || (SELECT l FROM t{rnd}) || '  '
                         || (SELECT r FROM t{rnd}) || ' ',
                     ' ' || (SELECT l FROM t{rnd})
                         || (SELECT r FROM t{rnd}) || ' ') AS seq
      FROM {prev}
    )"""


def _sql_emit(rnd: int) -> str:
    """One result row per round. The leading CASE is the oracle twin
    of _require_rounds: on a merge-exhausted corpus t{rnd} is empty
    and every scalar subquery would NULL-poison the row (silently
    degraded output while the Spark side raises ValueError — r10
    ADVICE); error() makes the oracle fail as LOUDLY as the engine,
    so the two sides cannot fail in different modes."""
    return f"""
    SELECT CAST(CASE WHEN (SELECT COUNT(*) FROM t{rnd}) = 0
                THEN error('bpe oracle: corpus exhausted before round '
                           || {rnd} || ' — no adjacent pairs left '
                           || '(matches _require_rounds'' ValueError)')
                ELSE {rnd} END AS BIGINT) AS round,
           (SELECT l FROM t{rnd}) AS merge_left,
           (SELECT r FROM t{rnd}) AS merge_right,
           CAST((SELECT c FROM t{rnd}) AS BIGINT) AS pair_count,
           CAST((SELECT COUNT(*) FROM p{rnd}) AS BIGINT) AS n_pair_types,
           CAST((SELECT SUM(cnt * len(string_split_regex(trim(seq), ' +')))
                 FROM s{rnd}) AS BIGINT) AS n_symbols_after"""


_BPE_SQL = f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    s0 AS (
      SELECT word, cnt, regexp_replace(word, '(.)', ' \\1 ', 'g') AS seq
      FROM wf
    ),
    {_sql_round('s0', 1)},
    {_sql_round('s1', 2)}
    {_sql_emit(1)}
    UNION ALL
    {_sql_emit(2)}
"""


@query("ns_bpe_merges", _BPE_SQL)
def ns_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First {rounds} BPE tokenizer-training merges over the document
    corpus: per round the winning pair (count-desc, lexicographic
    tie-break), its weighted frequency, the distinct adjacent-pair
    count, and the total weighted symbol occurrences after the merge
    (the compression curve a tokenizer trainer monitors). The DuckDB
    oracle replays BOTH rounds — pair counting, winner selection, and
    the literal boundary-anchored merge — so the iterative algorithm
    is hash-gated end to end (the ns_cluster_kmeans precedent)."""
    return bpe_merge_rounds(spark, sf_dir)


ns_bpe_merges.__doc__ = ns_bpe_merges.__doc__.format(rounds=_BPE_ROUNDS)


# Train-and-apply CTE chain shared by ns_bpe_encode and
# ns_tokenizer_fertility (no WITH): replay the merge rounds, derive
# each vocabulary word's post-merge symbol count + merged flag, and
# explode the corpus token stream (with lang, which encode's final
# SELECT simply doesn't read).
_BPE_APPLY_CTES = f"""
    wf AS (
      SELECT w AS word, COUNT(*) AS cnt
      FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY w
    ),
    s0 AS (
      SELECT word, cnt, regexp_replace(word, '(.)', ' \\1 ', 'g') AS seq
      FROM wf
    ),
    {_sql_round('s0', 1)},
    {_sql_round('s1', 2)},
    wsym AS (
      SELECT word,
             len(string_split_regex(trim(seq), ' +')) AS n_syms,
             -- contains() is a LITERAL substring test (matches
             -- Spark's Column.contains); LIKE would treat %/_ in a
             -- merged symbol as wildcards (r10 review pass 2)
             CASE WHEN contains(seq, (SELECT l FROM t1)
                                     || (SELECT r FROM t1))
                  OR contains(seq, (SELECT l FROM t2)
                                   || (SELECT r FROM t2))
                  THEN 1 ELSE 0 END AS has_merge
      FROM s2
    ),
    docw AS (
      SELECT doc_id, lang, w AS word
      FROM (SELECT doc_id, lang,
                   unnest(string_split(lower(trim(text)), ' ')) AS w
            FROM documents)
      WHERE w <> ''
    )
"""


@query(
    "ns_bpe_encode",
    f"""
    WITH {_BPE_APPLY_CTES}
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.n_syms) AS BIGINT) AS n_symbols,
           CAST(SUM(length(d.word)) AS BIGINT) AS n_chars_tok,
           CAST(SUM(v.has_merge) AS BIGINT) AS n_merged_tokens
    FROM docw d JOIN wsym v ON d.word = v.word
    GROUP BY d.doc_id
    """,
)
def ns_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained tokenizer (the {rounds}-merge bpe_train state
    ns_bpe_merges gates) to every document: per doc the token count,
    the post-merge SYMBOL count (the number of BPE tokens the doc
    would encode to), the summed token characters (the char-level
    baseline the merges compress from), and how many of its tokens
    contain a learned merge — the per-document compression audit a
    tokenizer rollout runs before re-encoding a corpus.

    Both engines train AND apply: the oracle replays the two merge
    rounds (shared _sql_round CTEs), derives each vocabulary word's
    symbol count, and joins it back onto the exploded corpus — all
    integer arithmetic, hash-exact.

    Scale: the vocabulary table (|distinct words| ≪ corpus, Zipf) is
    BROADCAST onto the exploded token stream — the same
    vocab-encode-join shape as ns_tokenize_encode, so the corpus
    never shuffles for the join; the per-doc rollup is one keyed
    aggregate with map-side combine. Symbol-membership flags are
    row-local string ops on the vocab side only."""
    vocab, docw = _bpe_apply(spark, sf_dir)
    return docw.join(F.broadcast(vocab), ["word"]).groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("n_syms").cast("bigint").alias("n_symbols"),
        F.sum("n_chars").cast("bigint").alias("n_chars_tok"),
        F.sum("has_merge").cast("bigint").alias("n_merged_tokens"),
    )


ns_bpe_encode.__doc__ = ns_bpe_encode.__doc__.format(rounds=_BPE_ROUNDS)


def _bpe_apply(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Spark twin of _BPE_APPLY_CTES: (vocab frame with per-word
    n_syms/has_merge/n_chars, exploded corpus token stream with lang).
    ONE implementation feeds both apply-side consumers."""
    seqs, stats = bpe_train(spark, sf_dir)
    _require_rounds(stats, _BPE_ROUNDS)
    merged = [f"{l}{r}" for _rnd, l, r, _c, _t, _n in stats]
    n_syms = F.size(F.split(F.trim(F.col("seq")), " +"))
    has_merge = F.greatest(
        *[F.col("seq").contains(m).cast("int") for m in merged],
        F.lit(0),
    ) if merged else F.lit(0)
    vocab = seqs.select(
        "word",
        n_syms.alias("n_syms"),
        has_merge.alias("has_merge"),
        F.length("word").alias("n_chars"),
    )
    d = tbl(spark, sf_dir, "documents", parallel=True)
    docw = (
        d.select(
            "doc_id",
            "lang",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), " ")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    return vocab, docw


@query(
    "ns_tokenizer_fertility",
    f"""
    WITH {_BPE_APPLY_CTES}
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(v.n_syms) AS BIGINT) AS n_symbols,
           CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
           SUM(v.n_syms) / CAST(COUNT(*) AS DOUBLE) AS fertility,
           SUM(length(d.word)) / CAST(SUM(v.n_syms) AS DOUBLE)
             AS chars_per_symbol,
           SUM(v.has_merge) / CAST(COUNT(*) AS DOUBLE) AS merged_share
    FROM docw d JOIN wsym v ON d.word = v.word
    GROUP BY d.lang
    """,
)
def ns_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY under the trained BPE state —
    the standard multilingual tokenizer-equity eval (symbols per word,
    chars per symbol, merged-token share, per language): a vocabulary
    trained on a skewed mixture over-segments tail languages, and this
    is the table (mBERT/XLM-R analyses, 'tokenizer fairness') that
    quantifies it BEFORE a costly corpus re-encode. Composes the
    shared train-and-apply pipeline (_bpe_apply / _BPE_APPLY_CTES)
    with ns_sample_temperature's lang axis: high-fertility languages
    are exactly the ones temperature mixing up-weights.

    Both engines train AND apply (shared fragments with
    ns_bpe_encode, so the vocabulary cannot drift between the per-doc
    audit and the per-lang eval); ratios are divisions of exactly-
    summed integers — bit-identical.

    Scale: identical to ns_bpe_encode's shape — Zipf-small vocabulary
    BROADCAST onto the exploded token stream, then ONE |langs|-keyed
    aggregate with map-side combine; the corpus never shuffles."""
    vocab, docw = _bpe_apply(spark, sf_dir)
    return (
        docw.join(F.broadcast(vocab), ["word"])
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("n_syms").cast("bigint").alias("n_symbols"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            (
                F.sum("n_syms") / F.count("*").cast("double")
            ).alias("fertility"),
            (
                F.sum("n_chars") / F.sum("n_syms").cast("double")
            ).alias("chars_per_symbol"),
            (
                F.sum("has_merge") / F.count("*").cast("double")
            ).alias("merged_share"),
        )
    )
