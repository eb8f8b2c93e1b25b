"""Per-layer microbenchmarks for the traced run.

Each one times calls into one module's public functions from here, on one
pinned core, over the workload's own inputs: the pyarrow read a
parquet-direct task does, ``sketch_spark.hashing``, and the update and
state round trip of each flagship sketch kind in ``sketch_spark.sketches``.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sketch_spark import hashing
from sketch_spark.sketches import base
from sketch_spark.sketches.base import from_bytes, make_sketch

# the flagship's five kinds, plus the hll p12 that states_rollup folds
KINDS = {
    "hll": ("hll", {"p": 14}),
    "cms": ("cms", {"l2sz": 18, "nh": 4}),
    "bloom": ("bloom", {"l2sz": 24, "nh": 3}),
    "minhash": ("minhash", {"k": 1024}),
    "kll": ("kll", {"k": 200}),
    "hll_p12": ("hll", {"p": 12}),
}
UPDATE_KINDS = ("hll", "cms", "bloom", "minhash", "kll")
MAX_TOKENS = 4 << 20
SERDE_REPS = 5


@contextmanager
def pinned_core():
    """Run the calling thread on one core (the last one it may use)."""
    before = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {max(before)})
    try:
        yield
    finally:
        os.sched_setaffinity(0, before)


def _slices(values: np.ndarray):
    step = base.UPDATE_SUPER
    return [values[s : s + step] for s in range(0, len(values), step)]


def _ns_per(make_fn, values: np.ndarray, passes: int = 2) -> float:
    """Best of ``passes`` timed passes over ``values`` in update-sized
    slices, each with a fresh ``make_fn()``: the first pass also pays
    first-touch page faults on the kernel's transient buffers."""
    parts = _slices(values)
    best = float("inf")
    for _ in range(passes):
        fn = make_fn()
        t0 = time.perf_counter()
        for p in parts:
            fn(p)
        best = min(best, time.perf_counter() - t0)
    return best * 1e9 / len(values)


def read_layer(files: list[str], column: str, n_tokens: int) -> dict[str, float]:
    """Single-threaded ``pq.read_table`` plus a flatten, per token.

    For a list column the flatten is the token array; for a text column
    the tokens are the corpus words (``n_tokens``), read as strings."""
    t0 = time.perf_counter()
    nbytes = 0
    for path in files:
        col = pq.read_table(path, columns=[column], use_threads=False).column(0).combine_chunks()
        if pa.types.is_list(col.type):
            col = col.flatten()
        col.to_numpy(zero_copy_only=False)
        meta = pq.ParquetFile(path).metadata
        idx = meta.schema.to_arrow_schema().get_field_index(column)
        nbytes += sum(meta.row_group(r).column(idx).total_compressed_size for r in range(meta.num_row_groups))
    dt = time.perf_counter() - t0
    return {"read.ns_per_tok": dt * 1e9 / n_tokens, "read.bytes_per_tok": nbytes / n_tokens}


def kernel_layers(tokens: np.ndarray) -> dict[str, float]:
    """hashing ns/token, sketch update ns/token and state round-trip costs."""
    tokens = np.ascontiguousarray(tokens[:MAX_TOKENS])
    out: dict[str, float] = {
        "hashing.hash_tokens.ns_per_tok": _ns_per(lambda: hashing.hash_tokens, tokens),
    }
    for nh in (3, 4):
        out[f"hashing.double_hashes_nh{nh}.ns_per_tok"] = _ns_per(
            lambda nh=nh: lambda v: hashing.double_hashes(v, 1, 2, nh), tokens
        )
    as_float = tokens.astype(np.float64)
    for name, (kind, params) in KINDS.items():
        vals = as_float if kind == "kll" else tokens
        if name in UPDATE_KINDS:
            out[f"sketches.{name}.update_ns_per_tok"] = _ns_per(
                lambda: make_sketch(kind, **params).update, vals
            )
        half = len(vals) // 2
        a, b = make_sketch(kind, **params), make_sketch(kind, **params)
        a.update(vals[:half])
        b.update(vals[half:])
        blob, other = a.to_bytes(), b.to_bytes()
        to_b, from_b, merge = [], [], []
        for _ in range(SERDE_REPS):
            t0 = time.perf_counter()
            a.to_bytes()
            t1 = time.perf_counter()
            x = from_bytes(blob)
            t2 = time.perf_counter()
            y = from_bytes(other)
            t3 = time.perf_counter()
            x.merge(y)
            t4 = time.perf_counter()
            to_b.append(t1 - t0)
            from_b.append(t2 - t1)
            merge.append(t4 - t3)
        out[f"sketches.{name}.to_bytes_us"] = statistics.median(to_b) * 1e6
        out[f"sketches.{name}.from_bytes_us"] = statistics.median(from_b) * 1e6
        out[f"sketches.{name}.merge_us"] = statistics.median(merge) * 1e6
        out[f"sketches.{name}.state_bytes"] = len(blob)
    return out
