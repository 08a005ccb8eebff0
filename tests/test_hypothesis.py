"""Hypothesis property tests (SURVEY §5.4) for the routing/parsing
functions — the reference behaviors with crisp algebraic contracts
(BucketPath rounding, HiveUtils spec parsing).

Pattern: hypothesis generates a BATCH of inputs per example and ONE
Spark pass evaluates the whole batch against an independent Python
reference — a handful of examples each covering hundreds of random
rows, instead of a Spark round-trip per generated value.
"""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flume_hive_batched_sink_spark.functions.partition import (
    bucket_ts,
    derive_logdate,
    partition_spec_value,
    partition_spec_values,
)

# epoch range well inside both engines' timestamp domains (1971-2033)
_EPOCHS = st.integers(min_value=31_536_000, max_value=2_000_000_000)
_ROUNDS = st.sampled_from([60, 300, 900, 3600, 86400])

SETTINGS = dict(max_examples=5, deadline=None)


@given(epochs=st.lists(_EPOCHS, min_size=1, max_size=200), rnd=_ROUNDS)
@settings(**SETTINGS)
def test_bucket_floor_property(spark, epochs, rnd):
    """bucket = floor(epoch / round) * round, for ANY epoch and round
    (TimedUtils.scala:44-47 semantics); logdate is its %Y%m%d%H%M
    rendering in UTC."""
    df = spark.createDataFrame([(e,) for e in epochs], "epoch long")
    # compare epochs, not collected datetimes: collect() renders
    # timestamps in the PYTHON process's local timezone, so a
    # datetime-based check would only pass on TZ=UTC hosts
    rows = (
        df.select(
            "epoch",
            F.unix_timestamp(
                bucket_ts(F.timestamp_seconds("epoch"), rnd)
            ).alias("b_epoch"),
            derive_logdate(F.timestamp_seconds("epoch"), rnd).alias("ld"),
        )
        .collect()
    )
    for r in rows:
        want = r.epoch - r.epoch % rnd
        assert r.b_epoch == want, (r.epoch, rnd)
        want_ld = datetime.datetime.fromtimestamp(
            want, tz=datetime.timezone.utc
        ).strftime("%Y%m%d%H%M")
        assert r.ld == want_ld, (r.epoch, rnd)


_KEYS = st.sampled_from(["logdate", "loghour", "region", "k", "part_a"])
_VALS = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-_.", min_size=0, max_size=12
)


@given(
    specs=st.lists(
        st.dictionaries(_KEYS, _VALS, min_size=1, max_size=4),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_partition_spec_roundtrip(spark, specs):
    """Building `k1=v1/k2=v2` then parsing must return the original
    values — for any key subset and any value (incl. empty strings),
    HiveUtils.scala:126-139 semantics."""
    rows = [("/".join(f"{k}={v}" for k, v in d.items()), d) for d in specs]
    df = spark.createDataFrame(
        [(s,) for s, _ in rows], "spec string"
    ).select(
        "spec",
        partition_spec_values("spec").alias("vals"),
        *[
            partition_spec_value("spec", k).alias(f"v_{k}")
            for k in ["logdate", "loghour", "region", "k", "part_a"]
        ],
    )
    got = df.collect()
    for r, (_, d) in zip(got, rows):
        assert list(r.vals) == list(d.values()), (r.spec, d)
        for k, v in d.items():
            assert getattr(r, f"v_{k}") == v, (r.spec, k)
        for k in set(["logdate", "loghour", "region", "k", "part_a"]) - set(d):
            assert getattr(r, f"v_{k}") == "", (r.spec, k)


_DOC_IDS = st.integers(min_value=0, max_value=30)
_KEYS_SMALL = st.integers(min_value=0, max_value=8)


@given(
    postings=st.lists(
        st.tuples(_DOC_IDS, _KEYS_SMALL), min_size=1, max_size=120
    ),
    cap=st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
def test_posting_pairs_matches_naive_join(spark, postings, cap):
    """`dedup._posting_pairs` (single-shuffle posting-list pair
    generation) must emit EXACTLY the multiset of (doc_a, doc_b,
    shared-key) rows a naive capped self-join produces, for ANY
    inverted index and ANY cap — the algebraic contract the
    exact-substring and shingle dedups rely on."""
    from collections import Counter

    from flume_hive_batched_sink_spark.operators.dedup import _posting_pairs

    df = spark.createDataFrame(
        [(d, f"k{k}") for d, k in postings], "doc_id long, key string"
    )
    got = Counter(
        (r.doc_a, r.doc_b)
        for r in _posting_pairs(df, "key", cap).collect()
    )
    # independent Python reference: per key, distinct docs, cap by DF,
    # emit each sorted pair once per shared key
    by_key: dict[str, set] = {}
    for d, k in postings:
        by_key.setdefault(f"k{k}", set()).add(d)
    want: Counter = Counter()
    for docs in by_key.values():
        if 2 <= len(docs) <= cap:
            ds = sorted(docs)
            for i, a in enumerate(ds):
                for b in ds[i + 1:]:
                    want[(a, b)] += 1
    assert got == want


_DAYS = st.integers(min_value=0, max_value=40)


@given(
    activity=st.lists(
        st.tuples(st.integers(min_value=0, max_value=5), _DAYS),
        min_size=1,
        max_size=150,
    )
)
@settings(**SETTINGS)
def test_streaks_match_python_reference(spark, activity):
    """win_streaks' gaps-and-islands algebra vs an independent Python
    computation of (n_active_days, longest_streak, n_streaks), for
    arbitrary (user, day) activity multisets — exercising the
    PRODUCTION chain (windows.streaks_from_activity), not a copy."""
    from flume_hive_batched_sink_spark.operators.windows import (
        streaks_from_activity,
    )

    df = spark.createDataFrame(
        [(u, d) for u, d in activity], "user_id long, dn long"
    )
    got = {
        r.user_id: (r.n_active_days, r.longest_streak, r.n_streaks)
        for r in streaks_from_activity(df).collect()
    }
    by_user: dict[int, set] = {}
    for u, d in activity:
        by_user.setdefault(u, set()).add(d)
    for u, ds in by_user.items():
        runs = []
        cur = 0
        prev = None
        for d in sorted(ds):
            if prev is not None and d == prev + 1:
                cur += 1
            else:
                if cur:
                    runs.append(cur)
                cur = 1
            prev = d
        runs.append(cur)
        assert got[u] == (len(ds), max(runs), len(runs)), (u, sorted(ds))


# ---- BPE merge application vs an independent greedy reference ----

_WORDS = st.lists(
    st.text(alphabet="abc", min_size=1, max_size=7),
    min_size=1,
    max_size=120,
)


def _ref_greedy_merge(syms: list[str], l: str, r: str) -> list[str]:
    """Independent reference for ONE BPE merge pass: left-to-right,
    non-overlapping — exactly Sennrich's greedy application."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


@given(words=_WORDS)
@settings(**SETTINGS)
def test_bpe_merge_matches_greedy_reference(spark, words):
    """The space-wrapped literal-replace merge (bpe.py) must equal an
    independent Python greedy-merge reference for TWO successive
    merge rounds over random words — including adversarial shapes the
    fixtures never hit: aa-runs (overlap greediness), words where a
    later symbol STARTS with the merged pair's right side (the r10
    boundary-anchoring counterexample class), and 1-char words (no
    pairs). Round 2 runs on multi-char symbols, exercising the wrap
    invariant after a replacement."""
    from collections import Counter

    state = {w: [ch for ch in w] for w in set(words)}
    freq = Counter(words)
    df = spark.createDataFrame(
        [(w,) for w in state], "word string"
    ).select(
        "word",
        F.regexp_replace(F.col("word"), "(.)", " $1 ").alias("seq"),
    )
    for _round in (1, 2):
        # winner by weighted count (count desc, then lexicographic) —
        # chosen from the REFERENCE state so the test only exercises
        # the merge APPLICATION, not winner selection
        pairs = Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            return
        (l, r), _ = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        state = {
            w: _ref_greedy_merge(syms, l, r) for w, syms in state.items()
        }
        df = df.select(
            "word",
            F.replace(
                F.col("seq"), F.lit(f" {l}  {r} "), F.lit(f" {l}{r} ")
            ).alias("seq"),
        )
        got = {
            row.word: [s for s in row.seq.split(" ") if s]
            for row in df.collect()
        }
        assert got == state, f"round {_round} merge ({l},{r})"


_HEX32 = st.text(alphabet="0123456789abcdef", min_size=32, max_size=32)


@given(hexes=st.lists(_HEX32, min_size=1, max_size=50))
@settings(**SETTINGS)
def test_hex_int_twins_agree(spark, hexes):
    """registry.hex_int (Spark conv) and sql_hex_int (DuckDB '0x'
    cast) read the same BIGINT from every window of an md5-shaped
    hex string: every width n in 1..15 at every start in 1..33-n,
    checked against Python's int(_, 16) too."""
    import duckdb

    from flume_hive_batched_sink_spark.operators.registry import (
        hex_int,
        sql_hex_int,
    )

    wins = [(s, n) for n in range(1, 16) for s in range(1, 34 - n)]
    rows = list(enumerate(hexes))
    got = spark.createDataFrame(rows, "i int, h string").select(
        "i", *[hex_int(F.col("h"), s, n) for s, n in wins]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, h VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    cols = ", ".join(sql_hex_int("h", s, n) for s, n in wins)
    rel = con.sql(f"SELECT i, {cols} FROM t ORDER BY i")
    assert {str(t) for t in rel.types[1:]} == {"BIGINT"}
    duck = rel.fetchall()
    want = [
        (i, *[int(h[s - 1 : s - 1 + n], 16) for s, n in wins])
        for i, h in rows
    ]
    assert sorted(tuple(r) for r in got.collect()) == want
    assert duck == want
