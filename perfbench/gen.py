"""Seeded Flume-shaped event generator and stager.

A Flume event is a header map (event time, host) plus a text body.
Here each event is one row: `event_id`, `ts` (the timestamp header),
`host`, `event_type` (Zipf-skewed) and `props`, the JSON body the
engine's `json` serde parses.  Batch `b` covers the event-time slice
`[t0 + b*span, t0 + (b+1)*span)`; a `late_share` of its rows are
pushed back by up to `late_max_s` seconds, so some land in logdates
that earlier batches already closed.

The generator is pure NumPy on a `numpy.random.Generator` seeded from
the workload seed, so one seed always gives the same rows.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-01T00:00:00Z; aligned to every bucket width used here.
T0_S = 1_767_225_600
ROUND_S = 300  # the landing config's 5-minute logdate


@dataclass(frozen=True)
class Traffic:
    """Traffic dimensions of one landing workload."""

    batch_events: int
    batches: int
    span_s: int  # event time covered by one batch
    late_share: float
    late_max_s: int
    zipf_a: float  # event_type skew, P(rank r) ~ r**-zipf_a
    n_types: int
    body_pad: int  # filler characters in each JSON body


def _zipf_probs(n: int, a: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -a
    return w / w.sum()


def generate(traffic: Traffic, seed: int) -> list[pa.Table]:
    """One Arrow table per micro-batch, deterministic in `seed`."""
    rng = np.random.default_rng(seed)
    probs = _zipf_probs(traffic.n_types, traffic.zipf_a)
    types = np.array([f"type_{i:02d}" for i in range(traffic.n_types)])
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", "S1")
    n = traffic.batch_events
    out = []
    for b in range(traffic.batches):
        offs = rng.integers(0, traffic.span_s * 1_000_000, n)
        late = rng.random(n) < traffic.late_share
        back = rng.integers(1, traffic.late_max_s + 1, n) * 1_000_000
        ts_us = (T0_S + b * traffic.span_s) * 1_000_000 + offs
        ts_us = np.where(late, ts_us - back, ts_us)
        ev_type = types[rng.choice(traffic.n_types, n, p=probs)]
        host = rng.integers(0, 16, n)
        k = rng.integers(0, 1000, n)
        value = np.round(rng.random(n) * 100, 3)
        user = rng.integers(0, 50_000, n)
        pad = alphabet[rng.integers(0, len(alphabet), (n, traffic.body_pad))]
        pad = pad.view(f"S{traffic.body_pad}").ravel().astype(str)
        props = [
            f'{{"k":{kk},"user_id":{uu},"value":{vv},"msg":"{pp}"}}'
            for kk, uu, vv, pp in zip(
                k.tolist(), user.tolist(), value.tolist(), pad.tolist()
            )
        ]
        out.append(
            pa.table(
                {
                    "event_id": pa.array(
                        np.arange(b * n, (b + 1) * n, dtype=np.int64)
                    ),
                    "ts": pa.array(ts_us, pa.timestamp("us")),
                    "host": pa.array([f"host-{h:02d}" for h in host.tolist()]),
                    "event_type": pa.array(ev_type),
                    "props": pa.array(props),
                }
            )
        )
    return out


def fmt_logdate(iso_minutes: str) -> str:
    """'2026-01-01T00:05' -> '202601010005'."""
    return iso_minutes.replace("-", "").replace("T", "").replace(":", "")


@dataclass
class Expected:
    """What a correct landing of the staged batches must show."""

    rows_per_logdate: dict[str, int]
    # logdate -> index of the first batch whose running max event time
    # reaches the logdate's window end (None: never closes)
    closes_at_batch: dict[str, int | None]
    n_events: int
    input_bytes: int
    # (logdate, event_type) -> (count, sum of k): the flagship aggregate
    flagship: dict[tuple[str, str], tuple[int, int]]


def _ld_strings(floors_s: np.ndarray) -> np.ndarray:
    iso = np.datetime_as_string(floors_s.astype("datetime64[s]"), unit="m")
    return np.array([fmt_logdate(x) for x in iso.tolist()])


def expected(batches: list[pa.Table], input_bytes: int) -> Expected:
    """Expected landing outcome, computed with Arrow kernels."""
    import pyarrow.compute as pc

    parts = []
    high = []
    hw = None
    for t in batches:
        ts = t.column("ts").cast(pa.int64()).to_numpy()
        secs = ts // 1_000_000
        k = pc.extract_regex(t.column("props"), r'^\{"k":(?P<k>[0-9]+),')
        parts.append(
            pa.table(
                {
                    "floor": secs - secs % ROUND_S,
                    "event_type": t.column("event_type"),
                    "k": pc.struct_field(k, "k").cast(pa.int64()),
                }
            )
        )
        m = int(ts.max())
        hw = m if hw is None else max(hw, m)
        high.append(hw)
    agg = (
        pa.concat_tables(parts)
        .group_by(["floor", "event_type"])
        .aggregate([("k", "count"), ("k", "sum")])
    )
    floors = agg.column("floor").to_numpy()
    uniq, inv = np.unique(floors, return_inverse=True)
    names = _ld_strings(uniq)
    cnt = agg.column("k_count").to_numpy()
    ksum = agg.column("k_sum").to_numpy()
    types = agg.column("event_type").to_pylist()
    rows = np.bincount(inv, weights=cnt).astype(np.int64)
    closes: dict[str, int | None] = {}
    for ld, start in zip(names.tolist(), uniq.tolist()):
        end_us = (start + ROUND_S) * 1_000_000
        closes[ld] = next(
            (b for b, h in enumerate(high) if h >= end_us), None
        )
    return Expected(
        rows_per_logdate=dict(zip(names.tolist(), rows.tolist())),
        closes_at_batch=closes,
        n_events=sum(t.num_rows for t in batches),
        input_bytes=input_bytes,
        flagship={
            (names[i], et): (int(c), int(s))
            for i, et, c, s in zip(inv.tolist(), types, cnt, ksum)
            if c >= 2
        },
    )


def stage(batches: list[pa.Table], stage_dir: str) -> int:
    """Write one parquet file per batch into `stage_dir` and return
    the bytes written.  `FileStreamSource` orders files by mtime at
    millisecond granularity, so the files get strictly increasing
    mtimes one second apart: file `b` is micro-batch `b`."""
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.makedirs(stage_dir)
    t0 = time.time() - 3600
    total = 0
    for b, t in enumerate(batches):
        path = os.path.join(stage_dir, f"batch_{b:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (t0 + b, t0 + b))
        total += os.path.getsize(path)
    return total
