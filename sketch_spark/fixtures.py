"""Deterministic token-table fixtures (FIXTURES.md F1a-F1e, F2, F3).

The north-rule input table: (doc_id string, tokens array<int32>, n_tok int,
source string). Generators are seeded (seed=42 default) and written as
parquet with a controlled file count so per-file lineage / resume tests are
deterministic (FIXTURES.md F4). Known-answer keys (exact distinct counts,
top-token counts, quantiles, true Jaccard) are computed with NumPy at
generation time and saved as JSON next to the parquet.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("web", "code", "books", "wiki")


def _doc_lengths(rng: np.random.Generator, n_docs: int) -> np.ndarray:
    # clipped lognormal(µ=ln 256, σ=0.6) per FIXTURES.md F1
    return np.clip(rng.lognormal(np.log(256), 0.6, n_docs), 8, 4096).astype(np.int64)


def _write(path: str, doc_ids, tokens_flat, offsets, sources, n_files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    n = len(doc_ids)
    arr = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(tokens_flat, pa.int32()))
    n_tok = np.diff(offsets).astype(np.int32)
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": arr,
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(sources, pa.string()),
        }
    )
    rows_per = (n + n_files - 1) // n_files
    for f in range(n_files):
        chunk = table.slice(f * rows_per, rows_per)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(path, f"part-{f:04d}.parquet"))


def _assemble(rng, n_docs, draw_tokens, source_fn=None):
    lens = _doc_lengths(rng, n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = draw_tokens(int(offsets[-1]))
    doc_ids = np.array([f"doc{i:08d}" for i in range(n_docs)])
    if source_fn is None:
        sources = np.array([SOURCES[i % len(SOURCES)] for i in range(n_docs)])
    else:
        sources = source_fn(n_docs)
    return doc_ids, flat.astype(np.int32), offsets, sources


def generate(base_dir: str, n_docs: int = 10_000, seed: int = 42, n_files: int = 16) -> dict:
    """All fixture variants + known-answer keys. Returns the answer dict."""
    os.makedirs(base_dir, exist_ok=True)
    answers: dict = {"seed": seed, "n_docs": n_docs}

    # F1a uniform — HLL error-bound corpus
    rng = np.random.default_rng(seed)
    ids, flat, off, src = _assemble(rng, n_docs, lambda n: rng.integers(0, 2**31, n, dtype=np.int64))
    _write(os.path.join(base_dir, "uniform"), ids, flat, off, src, n_files)
    answers["uniform"] = {
        "n_tokens": int(len(flat)),
        "distinct": int(len(np.unique(flat))),
    }

    # F1b zipf — CMS / top-k corpus
    rng = np.random.default_rng(seed + 1)
    zipf = lambda n: np.minimum(rng.zipf(1.2, n), 50_000) - 1  # noqa: E731
    ids, flat, off, src = _assemble(rng, n_docs, zipf)
    _write(os.path.join(base_dir, "zipf"), ids, flat, off, src, n_files)
    vals, counts = np.unique(flat, return_counts=True)
    top = np.argsort(-counts, kind="stable")[:100]
    answers["zipf"] = {
        "n_tokens": int(len(flat)),
        "distinct": int(len(vals)),
        "top100": {int(vals[i]): int(counts[i]) for i in top},
    }

    # F1c heavy137 — zipf + token 137 injected 1000 extra times (mctest analog)
    rng = np.random.default_rng(seed + 2)
    ids, flat, off, src = _assemble(rng, n_docs, zipf)
    inject = rng.choice(len(flat), 1000, replace=False)
    flat = flat.copy()
    flat[inject] = 137
    _write(os.path.join(base_dir, "heavy137"), ids, flat, off, src, n_files)
    answers["heavy137"] = {
        "n_tokens": int(len(flat)),
        "count_137": int((flat == 137).sum()),
    }

    # F1d overlap — A: [0,20k), B: [10k,30k) → true JI = 1/3 over vocab
    rng = np.random.default_rng(seed + 3)
    half = n_docs // 2
    lens = _doc_lengths(rng, n_docs)
    off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    srcs = np.array(["A"] * half + ["B"] * (n_docs - half))
    tot_a = int(lens[:half].sum())
    flat = np.concatenate(
        [
            rng.integers(0, 20_000, tot_a, dtype=np.int64),
            rng.integers(10_000, 30_000, int(off[-1]) - tot_a, dtype=np.int64),
        ]
    )
    ids = np.array([f"doc{i:08d}" for i in range(n_docs)])
    _write(os.path.join(base_dir, "overlap"), ids, flat.astype(np.int32), off, srcs, n_files)
    set_a = np.unique(flat[: tot_a])
    set_b = np.unique(flat[tot_a:])
    inter = len(np.intersect1d(set_a, set_b, assume_unique=True))
    union = len(np.union1d(set_a, set_b))
    answers["overlap"] = {
        "true_jaccard": inter / union,
        "distinct_a": int(len(set_a)),
        "distinct_b": int(len(set_b)),
        "union": int(union),
        "intersection": int(inter),
    }

    # F1e disjoint — Bloom FPR corpus
    rng = np.random.default_rng(seed + 4)
    lens = _doc_lengths(rng, n_docs)
    off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    srcs = np.array(["A"] * half + ["B"] * (n_docs - half))
    tot_a = int(lens[:half].sum())
    flat = np.concatenate(
        [
            rng.integers(0, 10_000_000, tot_a, dtype=np.int64),
            rng.integers(10_000_000, 20_000_000, int(off[-1]) - tot_a, dtype=np.int64),
        ]
    )
    _write(os.path.join(base_dir, "disjoint"), ids, flat.astype(np.int32), off, srcs, n_files)
    answers["disjoint"] = {
        "distinct_a": int(len(np.unique(flat[:tot_a]))),
        "distinct_b": int(len(np.unique(flat[tot_a:]))),
    }

    # F3 values — quantile corpus (token-derived floats + lognormal)
    rng = np.random.default_rng(seed + 5)
    vals = rng.lognormal(3.0, 1.0, 500_000)
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    answers["values"] = {
        "n": len(vals),
        "quantiles": {str(q): float(np.quantile(vals, q)) for q in qs},
    }

    with open(os.path.join(base_dir, "answers.json"), "w") as f:
        json.dump(answers, f, indent=1)
    return answers


def ensure_fixtures(base_dir: str, n_docs: int = 10_000, seed: int = 42) -> dict:
    """Generate once, reuse across test sessions (content is deterministic)."""
    marker = os.path.join(base_dir, "answers.json")
    if os.path.exists(marker):
        with open(marker) as f:
            a = json.load(f)
        if a.get("n_docs") == n_docs and a.get("seed") == seed:
            return a
    return generate(base_dir, n_docs=n_docs, seed=seed)


def token_table_path(n_docs: int, seed: int = 42) -> str:
    """Deterministic cache location for the synthesized token table."""
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".fixtures_cache",
        f"tok_{n_docs}_{seed}",
    )


def ensure_token_table(n_docs: int, seed: int = 42, cache_dir: str | None = None) -> str:
    """Generate the token-table parquet once; return its directory."""
    cache_dir = cache_dir or token_table_path(n_docs, seed)
    marker = os.path.join(cache_dir, "_done")
    if not os.path.exists(marker):
        rng = np.random.default_rng(seed)
        ids, flat, off, src = _assemble(rng, n_docs, lambda n: rng.integers(0, 2**31, n, dtype=np.int64))
        _write(cache_dir, ids, flat, off, src, n_files=32)
        with open(marker, "w") as f:
            f.write("ok")
    return cache_dir


def ensure_text_corpus(
    n_docs: int, seed: int = 42, dup_every: int = 10, cache_dir: str | None = None
) -> str:
    """Deterministic text-document corpus for dedup scale probes: word-salad
    docs over a 5k-word vocabulary, with every ``dup_every``-th document an
    EXACT copy of the document ``dup_every − 1`` positions earlier — so the
    planted exact-dup pair count is known in closed form. Cached like the
    token tables (content is a pure function of (n_docs, seed, dup_every))."""
    cache_dir = cache_dir or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".fixtures_cache",
        f"txt_{n_docs}_{seed}_{dup_every}",
    )
    marker = os.path.join(cache_dir, "_done")
    if os.path.exists(marker):
        return cache_dir
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:04d}" for i in range(5000)])
    lens = rng.integers(30, 200, n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i % dup_every == dup_every - 1 and i >= dup_every:
            texts.append(texts[i - dup_every + 1])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    os.makedirs(cache_dir, exist_ok=True)
    n_files = 32
    bounds = np.linspace(0, n_docs, n_files + 1).astype(np.int64)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        tbl = pa.table(
            {
                "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "text": pa.array(texts[lo:hi], pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(cache_dir, f"part-{f:03d}.parquet"))
    with open(marker, "w") as fh:
        fh.write("ok")
    return cache_dir


if __name__ == "__main__":
    import sys

    out = sys.argv[1] if len(sys.argv) > 1 else ".fixtures_cache/tokens"
    print(json.dumps(generate(out), indent=1)[:2000])
