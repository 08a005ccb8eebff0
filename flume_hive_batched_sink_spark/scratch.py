"""Per-process scratch root for sink outputs and streaming staging.

Sinks (`sink_*`), bucketed-table registration, and the streaming
file-source staging all write real files. A fixed path breaks two
ways: (a) two concurrent sessions (pytest + a parity sweep, or the
driver racing a leftover job) clobber each other's `_temporary`
dirs — Spark aborts with "Unable to clear output directory"; (b) a
killed run leaves half-written state that poisons the next run.
Keying the scratch root by pid gives every process an isolated tree;
stale trees from dead processes are garbage-collected on import so
the default location (`.tmp` in the package's own checkout, so two
checkouts never share one) does not accumulate.
"""

from __future__ import annotations

import os
import shutil

_BASE = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"
    ),
)
SCRATCH = os.path.join(_BASE, f"run_{os.getpid()}")


def _gc_stale_runs() -> None:
    try:
        entries = os.listdir(_BASE)
    except FileNotFoundError:
        return
    for d in entries:
        if not d.startswith("run_") or not d[4:].isdigit():
            continue
        pid = int(d[4:])
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # alive → leave its tree alone
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_BASE, d), ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid


_gc_stale_runs()
os.makedirs(SCRATCH, exist_ok=True)
