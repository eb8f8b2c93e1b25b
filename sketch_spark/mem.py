"""Process-wide switch for NumPy's huge-page advice.

NumPy tags every large allocation with ``madvise(MADV_HUGEPAGE)`` (since
1.18). That is usually a win for the scatter-heavy kernels (fewer TLB
misses), but on a host with THP ``defrag=madvise`` and fragmented memory
each first-touch fault of such a buffer can stall in synchronous
compaction. ``SKETCH_SPARK_HUGEPAGE=off`` turns the advice off for the
process; any other value keeps NumPy's default.

The switch is read once, at ``sketch_spark`` import. It must stay there:
Spark Python workers import the package before any kernel runs, so the
setting reaches every worker through the environment they inherit.
"""

from __future__ import annotations

import os

import numpy as np

#: Filled at import: {"policy": <SKETCH_SPARK_HUGEPAGE or "default">, "toggled"}
last_tuning: dict | None = None


def _set_madvise(enabled: bool) -> bool:
    """Flip NumPy's process-global MADV_HUGEPAGE tagging. Returns True if
    the (private but stable since 1.18) hook exists."""
    for mod in ("core", "_core"):  # numpy 1.x / 2.x spellings
        ma = getattr(getattr(np, mod, None), "multiarray", None)
        if ma is not None and hasattr(ma, "_set_madvise_hugepage"):
            ma._set_madvise_hugepage(bool(enabled))
            return True
    return False


def _apply() -> dict:
    """Read SKETCH_SPARK_HUGEPAGE and apply it to this process."""
    global last_tuning
    policy = os.environ.get("SKETCH_SPARK_HUGEPAGE", "default").lower()
    last_tuning = {"policy": policy, "toggled": policy == "off" and _set_madvise(False)}
    return last_tuning


_apply()
