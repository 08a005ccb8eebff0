import subprocess
import sys

import pytest

from perfbench.land import _growth, _per_batch
from perfbench.sparkstat import own_cpu_s


def _stream(ms):
    return [{"ms": {"triggerExecution": v}} for v in ms]


def test_growth_compares_quarters_of_one_stream():
    # 8 batches: quarters of two, medians 105 and 180
    ms = [100, 110, 120, 130, 140, 150, 160, 200]
    assert _growth(_stream(ms)) == pytest.approx(180 / 105)
    # fewer than 8: a quarter is one batch
    assert _growth(_stream([100, 90, 300, 250, 120, 150])) == 1.5


def test_per_batch_splits_at_listener_samples():
    events = [{"cpu": 13.0, "t": 104.0}, {"cpu": 15.5, "t": 105.5},
              {"cpu": 19.0, "t": 107.0}]
    cpu, wall = _per_batch((10.0, 100.0), events)
    assert cpu == [3.0, 2.5, 3.5]
    assert wall == [4.0, 1.5, 1.5]


BUSY_CHILD = """
import sys, time
t = time.process_time()
while time.process_time() - t < 0.5:
    pass
sys.stdout.write("x")
sys.stdout.flush()
time.sleep(30)
"""


def test_own_cpu_counts_live_children():
    c0 = own_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BUSY_CHILD],
                             stdout=subprocess.PIPE)
    try:
        assert child.stdout.read(1) == b"x"  # its busy half-second is done
        assert own_cpu_s() - c0 >= 0.45
    finally:
        child.kill()
        child.wait()
