"""How fast the host runs right now, from a fixed reference computation.

The benchmark shares a machine with other tenants, and their load changes
how fast every process on it runs: on a shared 4-core host the same runs
took 1.5 times as long for tens of minutes at a time, at under 2% steal. The
reference kernel here is the benchmark's own code, independent of the
library under test, timed in a process of its own: before the first
session starts, every few seconds between measured iterations (the
closed loop leaves the program idle there, and the kernel needs one of
the cores) and after the last session stops. ``run.py`` scales its
timings by ``REF_S`` over the reading, i.e. reports them in seconds of a
host as fast as the one ``REF_S`` was measured on.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time

import numpy as np

# the kernel's median time on an idle 4-core 2.1 GHz host
REF_S = 0.027
REPS = 9


def _kernel(arr: np.ndarray, buf: np.ndarray, idx: np.ndarray) -> None:
    # interpreter-bound, like the driver and the workers' Python code
    acc = 0
    for i in range(150_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    # memory-bound, like the sketch kernels: hash, then scatter-count into
    # an 8 MB table; the buffers are reused, so no call faults in pages
    np.multiply(arr, np.uint64(0x9E3779B97F4A7C15), out=buf)
    np.right_shift(buf, np.uint64(44), out=buf)
    np.copyto(idx, buf, casting="unsafe")
    np.bincount(idx, minlength=1 << 20)


def _times() -> list[float]:
    arr = np.random.default_rng(12345).integers(0, 2**63, 1 << 21, dtype=np.uint64)
    buf, idx = np.empty_like(arr), np.empty(len(arr), dtype=np.intp)
    _kernel(arr, buf, idx)  # first touch of every buffer
    out = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        _kernel(arr, buf, idx)
        out.append(time.perf_counter() - t0)
    return out


def reading() -> list[float]:
    """Seconds per kernel call, REPS times, timed in a fresh interpreter
    that imports NumPy alone: the library's process-wide settings (such as
    its huge-page policy) cannot reach it."""
    out = subprocess.run(
        [sys.executable, __file__], capture_output=True, text=True, check=True, timeout=120
    )
    return json.loads(out.stdout)


def scale(readings: list[float]) -> float:
    """Factor that turns a time measured now into reference-host seconds."""
    return REF_S / statistics.median(readings)


if __name__ == "__main__":
    print(json.dumps(_times()))
