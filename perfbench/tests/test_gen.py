import os

from perfbench.gen import Traffic, expected, generate, stage

SMALL = Traffic(
    batch_events=200, batches=3, span_s=150, late_share=0.05,
    late_max_s=600, zipf_a=1.2, n_types=6, body_pad=16,
)


def test_same_seed_same_events():
    a, b = generate(SMALL, 7), generate(SMALL, 7)
    assert all(x.equals(y) for x, y in zip(a, b))


def test_other_seed_other_events():
    a, b = generate(SMALL, 7), generate(SMALL, 8)
    assert not any(x.equals(y) for x, y in zip(a, b))


def test_event_ids_unique_and_types_skewed():
    batches = generate(SMALL, 3)
    ids = [i for t in batches for i in t.column("event_id").to_pylist()]
    assert len(ids) == len(set(ids)) == 600
    types = [x for t in batches for x in t.column("event_type").to_pylist()]
    assert types.count("type_00") > types.count("type_05")


def test_stage_mtimes_strictly_increase(tmp_path):
    batches = generate(SMALL, 1)
    n_bytes = stage(batches, str(tmp_path / "s"))
    files = sorted(os.listdir(tmp_path / "s"))
    mtimes = [os.stat(tmp_path / "s" / f).st_mtime for f in files]
    assert len(files) == 3
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    assert n_bytes == sum(os.path.getsize(tmp_path / "s" / f) for f in files)


def test_expected_counts_cover_every_event():
    batches = generate(SMALL, 5)
    exp = expected(batches, 1)
    assert sum(exp.rows_per_logdate.values()) == exp.n_events == 600
    # late rows reach back before the first batch's slice, and those
    # logdates close on the first batch
    assert min(exp.rows_per_logdate) < "202601010000"
    assert exp.closes_at_batch[min(exp.rows_per_logdate)] == 0
    # the last slice is still open when the input ends
    assert exp.closes_at_batch[max(exp.rows_per_logdate)] is None
