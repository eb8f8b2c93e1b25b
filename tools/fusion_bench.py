"""Grouped-build head-to-head: one-pass multi-sketch ``sketch_by_key`` vs
Spark's built-in aggregates at the same group-by shape.

The question this answers (BASELINE.md "matches-or-beats built-ins" at
group-by shape): for per-key distinct-token counts + per-key n_tok
quantiles over the XL token table (2M docs / ~612M tokens, 4 source
keys), what does each strategy cost?

  fused_sketch_by_key — OUR DataFrame path: ONE scan; per-partition
      per-key HLL+KLL partials built in NumPy from Arrow batches; the
      only shuffle moves |keys|x|specs| kilobyte states. Token arrays
      are consumed in-batch — the 612M-element explode never exists.
  fused_parquet_direct — OUR fast path (sketch_by_key_from_parquet):
      same two-phase shape but pyarrow reads the columns inside each
      task, skipping the JVM row->Arrow exchange entirely.
  builtin_approx      — Spark's own approximate pair:
      explode(tokens) -> groupBy(source).agg(approx_count_distinct)
      (HLL++ JVM-side, partial agg) + groupBy(source).agg(
      percentile_approx(n_tok)). Two jobs; the first materializes the
      612M-row explode through codegen.
  builtin_exact       — explode -> countDistinct per key: the exact
      baseline, shuffles every distinct (source, token) pair.

All strategies run after a warm-up of the scan path. Because this host
sees multi-minute co-tenant load bursts (BASELINE.md "reproducibility
ceiling"), the strategies are INTERLEAVED round-robin for --reps rounds
and the reported number is each strategy's MIN across rounds — a burst
then hurts different strategies in different rounds instead of silently
skewing one ratio. Every timed window records bracketing 1-min loadavg
so the noise stays self-documenting. One JSON line.

Usage: python tools/fusion_bench.py [--n-docs 2000000] [--cores N] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sketch_spark.fixtures import ensure_token_table
from sketch_spark.spark.agg import SketchSpec, sketch_by_key
from sketch_spark.spark.files import sketch_by_key_from_parquet
from sketch_spark.spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=2_000_000)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(cores=args.cores, app="fusion_bench")
    cores = spark.sparkContext.defaultParallelism
    tok_dir = ensure_token_table(n_docs=args.n_docs)
    tok = spark.read.parquet(tok_dir)
    n_tokens = int(tok.select(F.sum("n_tok")).first()[0])

    samples: dict[str, list[float]] = {}
    loadavg: dict[str, list[list[float]]] = {}
    results: dict[str, object] = {}

    def run(name, fn):
        la = [round(os.getloadavg()[0], 2)]
        t0 = time.perf_counter()
        out = fn()
        dt = round(time.perf_counter() - t0, 3)
        la.append(round(os.getloadavg()[0], 2))
        samples.setdefault(name, []).append(dt)
        loadavg.setdefault(name, []).append(la)
        results[name] = out
        return out

    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 14}),
        SketchSpec("kll", "kll", "n_tok", {"k": 200}),
    ]
    # warm the scan AND every Python-worker flavor (mapInArrow,
    # applyInPandas, plain-RDD) so no strategy pays session first-use costs
    # in its timed window
    tok.select(F.sum("n_tok")).first()
    sketch_by_key(tok.limit(256), "source", specs).collect()
    spark.sparkContext.parallelize(range(64), 64).map(lambda x: x).count()

    exploded = tok.select("source", F.explode("tokens").alias("t"))

    def builtin_approx():
        a = (
            exploded.groupBy("source")
            .agg(F.approx_count_distinct("t", rsd=0.01).alias("d"))
            .collect()
        )
        b = (
            tok.groupBy("source")
            .agg(F.percentile_approx("n_tok", [0.5, 0.9, 0.99], 10000).alias("q"))
            .collect()
        )
        return a, b

    strategies = [
        ("fused_sketch_by_key", lambda: sketch_by_key(tok, "source", specs).collect()),
        (
            "fused_parquet_direct",
            lambda: sketch_by_key_from_parquet(spark, tok_dir, "source", specs).collect(),
        ),
        ("builtin_approx", builtin_approx),
        (
            "builtin_exact",
            lambda: exploded.groupBy("source").agg(F.countDistinct("t").alias("d")).collect(),
        ),
    ]
    for rep in range(args.reps):
        for name, fn in strategies:
            run(name, fn)
            print(
                f"# rep {rep} {name}: {samples[name][-1]} s (loadavg {loadavg[name][-1]})",
                file=sys.stderr,
            )

    timings = {name: min(ts) for name, ts in samples.items()}
    fused = results["fused_sketch_by_key"]
    exact = results["builtin_exact"]

    # sanity: our per-key HLL agrees with builtin exact within 2%
    from sketch_spark.sketches.base import from_bytes

    ours = {
        r["source"]: from_bytes(bytes(r["state"])).estimate()
        for r in fused
        if r["name"] == "hll"
    }
    exact_d = {r["source"]: r["d"] for r in exact}
    worst = max(abs(ours[k] - exact_d[k]) / exact_d[k] for k in exact_d)
    print(
        json.dumps(
            {
                "metric": "fusion_grouped_build",
                "value": timings["fused_sketch_by_key"],
                "unit": "sec",
                "queries": timings,
                "samples": samples,
                "reps": args.reps,
                "loadavg": loadavg,
                "n_docs": args.n_docs,
                "n_tokens": n_tokens,
                "cores": cores,
                "hll_worst_rel_err_vs_exact": round(worst, 5),
                "speedup_vs_builtin_approx": round(
                    timings["builtin_approx"] / timings["fused_sketch_by_key"], 2
                ),
                "speedup_vs_builtin_exact": round(
                    timings["builtin_exact"] / timings["fused_sketch_by_key"], 2
                ),
                "parquet_direct_speedup_vs_builtin_approx": round(
                    timings["builtin_approx"] / timings["fused_parquet_direct"], 2
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
