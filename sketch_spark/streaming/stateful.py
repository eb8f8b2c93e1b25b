"""Keyed stateful streaming sketches via ``applyInPandasWithState``.

Where `streaming.build` accumulates whole-stream sketches through
foreachBatch state files, this module keeps a *per-key running sketch* in
Spark's own streaming state store — the idiomatic Structured Streaming
custom-stateful-operator shape. Each micro-batch updates the keyed state
(the serialized sketch rides in the state store, parameters and all) and
emits the key's refreshed estimate, giving a continuously-updating
approximate GROUP BY:

    key , estimate , n_rows_absorbed      (one row per touched key per batch)

This is the distributed, keyed generalization of the reference's
streaming-mode HLL (`shllbase_t`, hll.h:1175-1269: estimate maintained
while inserting). State-store persistence + checkpointing give exactly-once
across restarts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sketch_spark.sketches.base import from_bytes
from sketch_spark.spark.agg import SketchSpec


def _values_from_pdf(pdf: pd.DataFrame, col: str, want_float: bool) -> np.ndarray:
    s = pdf[col]
    if len(s) and isinstance(s.iloc[0], (list, np.ndarray)):
        vals = np.concatenate([np.asarray(x) for x in s]) if len(s) else np.empty(0)
    else:
        vals = s.to_numpy()
    if want_float:
        return np.asarray(vals, dtype=np.float64)
    v = np.asarray(vals)
    return v.astype(np.int64) if v.dtype.kind == "f" else v


def _estimate(sk) -> float:
    """The running scalar a streaming row carries: cardinality for the
    distinct-count kinds, the median for quantile kinds, else NaN."""
    if hasattr(sk, "estimate"):
        return float(sk.estimate())
    if hasattr(sk, "cardinality_estimate"):
        return float(sk.cardinality_estimate())
    if hasattr(sk, "quantile"):
        return float(np.atleast_1d(sk.quantile(0.5))[0])
    return float("nan")


def _matrix_from_pdf(pdf: pd.DataFrame, col: str) -> np.ndarray:
    """(n, d) float matrix from a list column — for vector-consuming kinds
    (``Sketch.consumes_vectors``), which take one fixed-dimension vector
    per ROW rather than a flat value stream."""
    s = pdf[col]
    if not len(s):
        return np.empty((0, 0), dtype=np.float64)
    return np.stack([np.asarray(x, dtype=np.float64) for x in s])


def stateful_sketch_by_key(
    stream: DataFrame, key: str, spec: SketchSpec
) -> DataFrame:
    """Transform a streaming DataFrame into per-key running sketch rows.

    Returns a streaming DataFrame (key string, state binary, estimate
    double, n_rows long) in update mode — wire it to any sink. The state
    column is a full serialized sketch, so downstream consumers can merge
    or query it with the normal library functions.
    """
    spec_tuple = (spec.kind, spec.col, dict(spec.params), spec.is_quantile)

    def update(key_tuple, pdfs, state: GroupState):
        kind, col, params, want_float = spec_tuple
        from sketch_spark.sketches.base import make_sketch

        if state.exists:
            sk = from_bytes(bytes(state.get[0]))
            n_seen = int(state.get[1])
        else:
            sk = make_sketch(kind, **params)
            n_seen = 0
        as_vectors = getattr(type(sk), "consumes_vectors", False)
        for pdf in pdfs:
            if as_vectors:
                vals = _matrix_from_pdf(pdf, col)
            else:
                vals = _values_from_pdf(pdf, col, want_float)
            n_seen += len(pdf)
            if len(vals):
                sk.update(vals)
        blob = sk.to_bytes()
        state.update((bytearray(blob), n_seen))
        yield pd.DataFrame(
            {
                "key": [str(key_tuple[0])],
                "state": [blob],
                "estimate": [_estimate(sk)],
                "n_rows": [n_seen],
            }
        )

    grouped = stream.select(F_col_str(key), spec.col).groupBy("__key")
    return grouped.applyInPandasWithState(
        update,
        outputStructType="key string, state binary, estimate double, n_rows long",
        stateStructType="state binary, n_rows long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def F_col_str(key: str):
    from pyspark.sql import functions as F

    return F.col(key).cast("string").alias("__key")
