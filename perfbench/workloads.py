"""The workloads: seeded inputs, one timed iteration, output checks.

A workload's ``iterate`` is what one closed-loop client request does; it
records into ``self.rec`` a span (seconds) around each library call it
makes, and the counts those calls return. ``check`` returns the failed
checks of one iteration's result.
"""

from __future__ import annotations

import hashlib
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from sketch_spark.pipeline.dedup import lsh_candidate_pairs, minhash_signatures, signature_jaccard
from sketch_spark.spark.agg import SketchSpec, estimate_udf, rollup_states
from sketch_spark.spark.files import build_sketches_from_parquet, sketch_by_key_from_parquet

FLAGSHIP = [
    SketchSpec("hll", "hll", "tokens", {"p": 14}),
    SketchSpec("cms", "cms", "tokens", {"l2sz": 18, "nh": 4}),
    SketchSpec("bloom", "bloom", "tokens", {"l2sz": 24, "nh": 3}),
    SketchSpec("minhash", "minhash", "tokens", {"k": 1024}),
    SketchSpec("kll", "kll", "n_tok", {"k": 200}),
]


def hll_bound(p: int) -> float:
    """Relative error allowed for an HLL estimate: three standard errors."""
    return 3 * 1.04 / math.sqrt(1 << p)


def _digest(states: dict, names) -> str:
    h = hashlib.sha256()
    for n in names:
        h.update(states[n].to_bytes())
    return h.hexdigest()


class Workload:
    name = ""
    warmup = 2
    layers_column = "tokens"

    def __init__(self, seed: int):
        self.seed = seed
        self.rec: dict[str, float] = {}
        self.write_s = 0.0

    def span(self, name: str, t0: float) -> float:
        t = time.perf_counter()
        self.rec[name] = t - t0
        return t

    def prepare(self, spark, work_dir: str) -> None:
        """Once per session, untimed unless the workload times it itself."""

    def explained_s(self, m: dict, cores: int) -> float:
        """Seconds of one iteration's blocking path the layer metrics ``m``
        account for; the traced run reports the rest as unexplained."""
        raise NotImplementedError


class TokenBuild(Workload):
    """Flagship 5-sketch parquet-direct build over the token table."""

    name = "token_build"
    n_docs, n_files = 50_000, 16

    def make_inputs(self) -> None:
        entry = inputs.token_table(self.seed, self.n_docs, self.n_files)
        self.answers = inputs.load_answers(entry)
        self.path = os.path.join(entry, "data")
        self.files = sorted(
            os.path.join(self.path, f) for f in os.listdir(self.path) if f.endswith(".parquet")
        )
        self.n_tokens = self.layer_n_tokens = self.answers["total_tokens"]
        first = pq.read_table(self.files[0], columns=["tokens"]).column(0).combine_chunks()
        self.present = first.flatten().to_numpy()[:20_000]
        self.digests: list[str] = []

    def layer_tokens(self) -> np.ndarray:
        return pq.read_table(self.files[:4], columns=["tokens"]).column(0).combine_chunks().flatten().to_numpy()

    def iterate(self, spark):
        t0 = time.perf_counter()
        sk = build_sketches_from_parquet(spark, self.path, FLAGSHIP)
        self.span("files.build_s", t0)
        return sk

    def explained_s(self, m: dict, cores: int) -> float:
        # task-side work spread over the cores: the read and the token
        # kernels per token, kll per document
        per_tok = m["read.ns_per_tok"] + sum(
            m[f"sketches.{s.name}.update_ns_per_tok"] for s in FLAGSHIP if s.col == "tokens"
        )
        ns = per_tok * self.n_tokens + m["sketches.kll.update_ns_per_tok"] * self.answers["n_docs"]
        return ns / 1e9 / cores

    def check(self, sk) -> list[str]:
        bad = []
        if sk["cms"].total() != self.n_tokens:
            bad.append(f"cms total {sk['cms'].total()} != {self.n_tokens}")
        exact = self.answers["distinct"]
        if abs(sk["hll"].estimate() - exact) > hll_bound(14) * exact:
            bad.append(f"hll estimate {sk['hll'].estimate():.0f} vs exact {exact}")
        if not sk["bloom"].may_contain(self.present).all():
            bad.append("bloom false negative")
        self.digests.append(_digest(sk, [s.name for s in FLAGSHIP]))
        if self.digests[-1] != self.digests[0]:
            bad.append("states differ from the first iteration")
        return bad


class StatesRollup(TokenBuild):
    """Rollups of a fine-grained keyed-states table (written once per run)."""

    name = "states_rollup"
    n_docs, n_files = 6_000, 8
    spec = SketchSpec("h", "hll", "tokens", {"p": 12})

    def prepare(self, spark, work_dir: str) -> None:
        self.states_dir = os.path.join(work_dir, "states")
        t0 = time.perf_counter()
        keyed = sketch_by_key_from_parquet(spark, self.path, ["source", "n_tok"], [self.spec])
        keyed.write.mode("overwrite").parquet(self.states_dir)
        self.write_s = time.perf_counter() - t0
        self.states_in = pq.read_table(self.states_dir, columns=["name"]).num_rows
        ref = build_sketches_from_parquet(spark, self.path, [self.spec])
        self.reference = ref["h"].to_bytes()

    def iterate(self, spark):
        states = spark.read.parquet(self.states_dir)
        t0 = time.perf_counter()
        by_source = rollup_states(states, ["source"]).persist()
        by_source.count()
        total = rollup_states(states, []).collect()
        t1 = self.span("agg.rollup_s", t0)
        est = by_source.select("source", estimate_udf()("state").alias("est")).collect()
        self.span("agg.estimate_s", t1)
        by_source.unpersist()
        return total, est

    def explained_s(self, m: dict, cores: int) -> float:
        # every fine state is decoded and merged once per rollup: serially
        # for the global one, over up to one task per source for the other
        fold_us = m["sketches.hll_p12.from_bytes_us"] + m["sketches.hll_p12.merge_us"]
        n_src = len(inputs.SOURCES)
        us = self.states_in * fold_us * (1 + 1 / min(cores, n_src))
        us += (n_src + 1) * m["sketches.hll_p12.to_bytes_us"]
        us += n_src * m["sketches.hll_p12.from_bytes_us"]  # the estimates
        return us / 1e6

    def check(self, result) -> list[str]:
        total, est = result
        bad = []
        if len(total) != 1 or bytes(total[0]["state"]) != self.reference:
            bad.append("global rollup differs from a direct hll-p12 build")
        exact = self.answers["distinct_per_source"]
        got = {r["source"]: r["est"] for r in est}
        if sorted(got) != sorted(exact):
            bad.append(f"rollup sources {sorted(got)}")
        for s, e in got.items():
            if s in exact and abs(e - exact[s]) > hll_bound(12) * exact[s]:
                bad.append(f"source {s}: estimate {e:.0f} vs exact {exact[s]}")
        return bad


class NearDup(Workload):
    """MinHash signatures, LSH candidates and verification over a corpus."""

    name = "neardup"
    n_docs, n_planted = 3_000, 150
    threshold = 0.7
    must_find = 0.95  # planted pairs at or above this true Jaccard
    never_below = 0.5  # no reported pair may have a true Jaccard under this

    def make_inputs(self) -> None:
        entry = inputs.text_corpus(self.seed, self.n_docs, self.n_planted)
        answers = inputs.load_answers(entry)
        self.path = os.path.join(entry, "data")
        self.files = [os.path.join(self.path, "part-000.parquet")]
        self.n_tokens = answers["total_words"]
        self.planted = {(a, b): j for a, b, j in answers["pairs"]}
        self.required = {p for p, j in self.planted.items() if j >= self.must_find}
        self.texts = None

    def iterate(self, spark):
        df = spark.read.parquet(self.path)
        t0 = time.perf_counter()
        sigs = minhash_signatures(df).persist()
        sigs.count()
        t1 = self.span("dedup.sign_s", t0)
        pairs = lsh_candidate_pairs(sigs).persist()
        n_cand = pairs.count()
        t2 = self.span("dedup.candidates_s", t1)
        found = (
            signature_jaccard(sigs, pairs).where(F.col("est_jaccard") >= self.threshold).collect()
        )
        self.span("dedup.verify_s", t2)
        pairs.unpersist()
        sigs.unpersist()
        self.rec["dedup.candidate_pairs"] = n_cand
        self.rec["dedup.result_pairs"] = len(found)
        return {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in found}

    def explained_s(self, m: dict, cores: int) -> float:
        return m["dedup.sign_s"] + m["dedup.candidates_s"] + m["dedup.verify_s"]

    def _true_jaccard(self, a: int, b: int) -> float:
        if (a, b) in self.planted:
            return self.planted[(a, b)]
        if self.texts is None:
            self.texts = pq.read_table(self.files[0], columns=["text"]).column(0).to_pylist()
        return inputs.jaccard(self.texts[a], self.texts[b])

    def check(self, found) -> list[str]:
        bad = [f"planted pair {p} missed" for p in sorted(self.required - found)]
        for a, b in sorted(found):
            j = self._true_jaccard(a, b)
            if j < self.never_below:
                bad.append(f"pair {(a, b)} reported at true Jaccard {j:.3f}")
        return bad


class RollupDedup(Workload):
    """A states_rollup iteration, then a neardup one, checked as both.

    Both parts run on the shuffle and join side of the engine and neither
    touches the parquet-direct hashing path, so they share one workload:
    the keyed rollups exercise ``spark.agg`` and the LSH search
    ``pipeline.dedup``. The layer microbenchmarks use the rollup's token
    table, whose hll-p12 states the rollup folds."""

    name = "rollup_dedup"
    warmup = 4  # the JVM side keeps speeding up over the first four iterations

    def __init__(self, seed: int):
        super().__init__(seed)
        self.rollup, self.dedup = StatesRollup(seed), NearDup(seed)
        self.parts = (self.rollup, self.dedup)

    def make_inputs(self) -> None:
        for p in self.parts:
            p.make_inputs()
        self.n_tokens = self.rollup.n_tokens + self.dedup.n_tokens
        self.files, self.layer_n_tokens = self.rollup.files, self.rollup.layer_n_tokens

    def layer_tokens(self) -> np.ndarray:
        return self.rollup.layer_tokens()

    def prepare(self, spark, work_dir: str) -> None:
        self.rollup.prepare(spark, work_dir)
        self.write_s, self.states_in = self.rollup.write_s, self.rollup.states_in

    def iterate(self, spark):
        for p in self.parts:
            p.rec = self.rec
        return tuple(p.iterate(spark) for p in self.parts)

    def explained_s(self, m: dict, cores: int) -> float:
        return sum(p.explained_s(m, cores) for p in self.parts)

    def check(self, result) -> list[str]:
        return [bad for p, out in zip(self.parts, result) for bad in p.check(out)]


WORKLOADS = {w.name: w for w in (TokenBuild, RollupDedup)}
