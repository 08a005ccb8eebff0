"""The curation operators' floor and their degenerate input.

`ns_kcenter_coreset` assigns every vector inside its selection loop
(the running argmin beside the running min), so its degenerate cases
are checked against the registered DuckDB oracle directly. The floor
test pins what a curation pass executes: no plan scans an RDD of
Python objects or runs a Python UDF, and BPE training issues two
driver actions per merge round."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flume_hive_batched_sink_spark.operators.registry import ORACLE

from .oracle_harness import compare, duck_connection


def _axis(v: float, i: int = 0) -> list[float]:
    e = [0.0] * 64
    e[i] = v
    return e


def _random(n: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [[float(v) for v in rng.normal(size=64)] for _ in range(n)]


def _ties() -> list:
    """Duplicates and an exactly equidistant point. Center 0 is vec 0
    (2·e0); vecs 1 and 4 (both -2·e0) tie for the farthest, so the
    smaller vec_id wins; vec 2 (the origin) is at squared distance 4
    from both and must keep rank 0; vec 5 (e1) ties 5 = 5 the same
    way until it becomes a center itself."""
    return [
        _axis(2.0),
        _axis(-2.0),
        _axis(0.0),
        _axis(2.0),
        _axis(-2.0),
        _axis(1.0, 1),
        _axis(0.5, 2),
    ]


def _nulls() -> list:
    """Rows whose distance is NULL: a NULL embedding, an inner NULL,
    and a short row. Each keeps rank 0 with a NULL distance."""
    embs = _random(8, 11)
    embs[5] = None
    embs[6][7] = None
    embs[7] = embs[7][:32]
    return embs


def _nan() -> list:
    """A NaN element: its running min is NaN, which orders first
    under DESC on both engines, so it becomes a center; every
    distance to it is NaN and never wins the argmin."""
    embs = _random(8, 12)
    embs[4][9] = float("nan")
    return embs


@pytest.mark.parametrize("corpus", [_ties, _nulls, _nan])
def test_kcenter_degenerate_matches_duckdb(spark, tmp_path, corpus):
    from flume_hive_batched_sink_spark.operators.clustering import (
        ns_kcenter_coreset,
    )

    embs = corpus()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(embs)), pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
                "label": pa.array([0] * len(embs), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    df = ns_kcenter_coreset(spark, str(tmp_path))
    con = duck_connection(str(tmp_path))
    assert compare(df, con, ORACLE["ns_kcenter_coreset"]) == []


def test_curation_floor(spark, monkeypatch):
    """A curation pass starts no Python worker: neither operator's
    executed plan scans an RDD built from Python objects (`Scan
    ExistingRDD`) or runs a Python function (`MapInArrow`). BPE
    training takes exactly two driver actions per merge round."""
    from flume_hive_batched_sink_spark.operators.bpe import bpe_train
    from flume_hive_batched_sink_spark.operators.registry import QUERIES

    from .conftest import SF_SMALL

    sc = spark.sparkContext
    sc.setJobGroup("curation-floor", "ns_bpe_merges + ns_kcenter_coreset")
    try:
        for name in ("ns_bpe_merges", "ns_kcenter_coreset"):
            df = QUERIES[name](spark, SF_SMALL)
            assert df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" not in plan, (name, plan)
            assert "MapInArrow" not in plan, (name, plan)
        assert sc.statusTracker().getJobIdsForGroup("curation-floor")

        actions = []
        DataFrame = type(spark.range(1))  # the session's concrete class
        for act in ("collect", "count", "toPandas", "toLocalIterator"):
            orig = getattr(DataFrame, act)

            def wrapped(self, *a, _orig=orig, _act=act, **kw):
                actions.append(_act)
                return _orig(self, *a, **kw)

            monkeypatch.setattr(DataFrame, act, wrapped)
        rounds = 3
        _seqs, stats = bpe_train(spark, SF_SMALL, rounds)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(stats) == rounds
    assert actions == ["collect"] * (2 * rounds)
