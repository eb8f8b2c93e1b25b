"""t-digest — merging variant, implemented from the published algorithm.

From Dunning & Ertl, "Computing extremely accurate quantiles using
t-digests" (arXiv:1902.04023). The reference library has no quantile sketch
with a working merge (its DDSketch is unfinished, /root/reference/include/
sketch/dd.h:137), so this is a from-scratch implementation of the capability
named by the build plan (SURVEY.md §2.1 #8).

Merging-digest design: a buffer of incoming (mean, weight) points; on
compression, all centroids are sorted by mean and greedily re-clustered under
the scale-function k1(q) = δ/(2π)·asin(2q−1) size limit, which bounds the
number of centroids by ~δ and keeps tail quantiles extremely accurate
(centroid capacity → 1 near q ∈ {0,1}).

merge = centroid-list concatenation + the same compression — associative up
to the accuracy guarantee; quantile() interpolates between centroid means.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np

from sketch_spark.sketches.base import Sketch, register


def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    return (delta / (2.0 * math.pi)) * np.arcsin(2.0 * np.clip(q, 0.0, 1.0) - 1.0)


@register
class TDigest(Sketch):
    kind = "tdigest"

    def __init__(self, delta: float = 200.0, seed: int = 0):
        if delta < 10:
            raise ValueError("delta must be >= 10")
        self.delta = float(delta)
        self.seed = int(seed)  # unused (deterministic), kept for API symmetry
        self.means = np.empty(0, dtype=np.float64)   # sorted by mean
        self.weights = np.empty(0, dtype=np.float64)
        self.mn = math.inf
        self.mx = -math.inf

    # -- internals ---------------------------------------------------------------
    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        """Re-cluster by k-space quantization, fully vectorized.

        Each point's left-edge quantile q maps to k = k1(q); points whose k
        falls in the same unit interval [j, j+1) form one centroid, so every
        centroid spans ≤ 1 unit of k-space — the t-digest size invariant —
        and the centroid count is bounded by ~δ. This replaces the paper's
        greedy left-to-right loop with one sort + one reduceat (no per-point
        Python), which is what lets a single partition absorb multi-million
        value Arrow batches.
        """
        if len(means) == 0:
            return
        order = np.argsort(means, kind="stable")
        m, w = means[order], weights[order]
        total = w.sum()
        q_left = (np.cumsum(w) - w) / total
        ids = np.floor(_k1(q_left, self.delta))
        starts = np.concatenate([[0], np.nonzero(np.diff(ids))[0] + 1])
        wsum = np.add.reduceat(w, starts)
        msum = np.add.reduceat(m * w, starts)
        self.means = msum / wsum
        self.weights = wsum

    # -- monoid ops ----------------------------------------------------------------
    def update(self, values: np.ndarray) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        self.mn = min(self.mn, float(v.min()))
        self.mx = max(self.mx, float(v.max()))
        self._compress(
            np.concatenate([self.means, v]),
            np.concatenate([self.weights, np.ones(len(v))]),
        )
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        self._check_mergeable(other)
        self.mn = min(self.mn, other.mn)
        self.mx = max(self.mx, other.mx)
        self._compress(
            np.concatenate([self.means, other.means]),
            np.concatenate([self.weights, other.weights]),
        )
        return self

    # -- queries ---------------------------------------------------------------------
    @property
    def n(self) -> float:
        return float(self.weights.sum())

    def quantile(self, q) -> np.ndarray | float:
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if len(self.means) == 0:
            out = np.full(len(qs), np.nan)
            return out if np.ndim(q) else float(out[0])
        total = self.weights.sum()
        # centroid midpoints in cumulative-weight space
        cum = np.cumsum(self.weights) - self.weights / 2.0
        targets = np.clip(qs, 0.0, 1.0) * total
        out = np.interp(targets, cum, self.means, left=self.mn, right=self.mx)
        return out if np.ndim(q) else float(out[0])

    def rank(self, values) -> np.ndarray | float:
        vs = np.atleast_1d(np.asarray(values, dtype=np.float64))
        if len(self.means) == 0:
            out = np.full(len(vs), np.nan)
            return out if np.ndim(values) else float(out[0])
        total = self.weights.sum()
        cum = np.cumsum(self.weights) - self.weights / 2.0
        out = np.interp(vs, self.means, cum / total, left=0.0, right=1.0)
        return out if np.ndim(values) else float(out[0])

    # -- state -------------------------------------------------------------------------
    def _params(self) -> dict[str, Any]:
        return {"delta": self.delta, "seed": self.seed}

    def _arrays(self) -> dict[str, np.ndarray]:
        return {
            "means": self.means,
            "weights": self.weights,
            "bounds": np.array([self.mn, self.mx], dtype=np.float64),
        }

    @classmethod
    def _from_state(cls, params, arrays) -> "TDigest":
        obj = cls(**params)
        obj.means = arrays["means"].astype(np.float64)
        obj.weights = arrays["weights"].astype(np.float64)
        obj.mn, obj.mx = (float(x) for x in arrays["bounds"])
        return obj

    def __repr__(self) -> str:  # pragma: no cover
        return f"TDigest(delta={self.delta}, n={self.n:.0f}, centroids={len(self.means)})"
