"""Head-to-head vs Spark's built-in approximate aggregates on the token
table — the "matches-or-beats" evidence.

Built-in path: `approx_count_distinct` / `percentile_approx` require the
token array EXPLODED into rows (Spark's HLL++ state is JVM-private: no
mergeable state out, no cross-column single-pass, no checkpoint/resume).
Our path: parquet-direct single pass building all sketches at once with
exportable, mergeable, resumable states.

Usage: python tools/builtin_compare.py [--docs 60000] [--cores N]
Prints a markdown table.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sketch_spark.fixtures import ensure_token_table
from sketch_spark.spark.agg import SketchSpec
from sketch_spark.spark.files import build_sketches_from_parquet
from sketch_spark.spark.session import get_spark


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=60_000)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(cores=args.cores, app="builtin_compare")
    tok_dir = ensure_token_table(n_docs=args.docs)
    tok = spark.read.parquet(tok_dir)
    n_tokens = tok.select(F.sum("n_tok")).first()[0]
    exact_distinct = tok.select(F.explode("tokens").alias("t")).select(
        F.countDistinct("t")
    ).first()[0]

    def best(fn):
        times, out = [], None
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        return min(times), out

    # Spark built-in: approx_count_distinct over exploded tokens
    t_builtin_acd, acd = best(
        lambda: tok.select(F.explode("tokens").alias("t"))
        .select(F.approx_count_distinct("t", rsd=0.008))
        .first()[0]
    )
    # Spark built-in: percentile_approx over n_tok
    t_builtin_pct, pct = best(
        lambda: tok.select(F.percentile_approx("n_tok", 0.5, 10_000)).first()[0]
    )
    # ours: ONE pass builds distinct + frequency + membership + similarity + quantiles
    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 14}),
        SketchSpec("cms", "cms", "tokens", {"l2sz": 18, "nh": 4}),
        SketchSpec("bloom", "bloom", "tokens", {"l2sz": 24, "nh": 3}),
        SketchSpec("mh", "minhash", "tokens", {"k": 1024}),
        SketchSpec("kll", "kll", "n_tok", {"k": 200}),
    ]
    build_sketches_from_parquet(spark, tok_dir, specs)  # warm
    t_ours, sk = best(lambda: build_sketches_from_parquet(spark, tok_dir, specs))

    hll_est = sk["hll"].estimate()
    kll_med = sk["kll"].quantile(0.5)
    print(f"tokens={n_tokens:,} exact_distinct={exact_distinct:,}")
    print("| path | wall | answers | error vs exact |")
    print("|---|---|---|---|")
    print(
        f"| Spark approx_count_distinct (rsd=0.8%) on exploded tokens | {t_builtin_acd:.2f}s"
        f" | distinct≈{acd:,} | {abs(acd-exact_distinct)/exact_distinct:+.3%} |"
    )
    print(
        f"| Spark percentile_approx(n_tok, 0.5, acc=10k) | {t_builtin_pct:.2f}s | p50={pct} | — |"
    )
    print(
        f"| **sketch_spark single pass (HLL+CMS+Bloom+MinHash+KLL, mergeable states)** | {t_ours:.2f}s"
        f" | distinct≈{hll_est:,.0f}, p50={kll_med} | {abs(hll_est-exact_distinct)/exact_distinct:+.3%} |"
    )
    spark.stop()


if __name__ == "__main__":
    main()
