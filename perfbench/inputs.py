"""Seeded workload inputs with their exact answers.

Everything here depends only on NumPy and pyarrow, never on the library
under test, so an edit to the library cannot change what the benchmark
feeds it. Each input is cached under ``perfbench/.cache`` by (seed, size),
as parquet files under ``data/`` beside an ``answers.json``: the same seed
always yields the same files and answers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

VOCAB = 1 << 17  # distinct token ids a corpus can use
ZIPF_S = 1.1
LEN_MEDIAN = 256
LEN_SIGMA = 0.6
SOURCES = ("s0", "s1", "s2", "s3")


def _cached(name: str, kind: str, *args: int) -> str:
    """Build ``name`` under the cache once, in a child process so that the
    generator's memory never shows in the benchmark's own peak RSS."""
    path = os.path.join(CACHE, name)
    if not os.path.exists(os.path.join(path, "answers.json")):
        subprocess.run([sys.executable, __file__, kind, path, *map(str, args)], check=True)
    return path


def _build(path: str, write, *args) -> None:
    """Write into a temp dir, then rename: a cut run leaves no half entry."""
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    answers = write(tmp, *args)
    with open(os.path.join(tmp, "answers.json"), "w") as f:
        json.dump(answers, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def load_answers(path: str) -> dict:
    with open(os.path.join(path, "answers.json")) as f:
        return json.load(f)


def _zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """n Zipf(ZIPF_S) ranks in [0, VOCAB) by inverse-CDF lookup."""
    w = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int32)


def _vocab_ids(rng: np.random.Generator) -> np.ndarray:
    """VOCAB distinct non-negative int32 token ids, randomly placed: an odd
    multiplier is a bijection mod 2^31, and a shuffle breaks the rank order."""
    mult = int(rng.integers(1 << 20, 1 << 30)) | 1
    off = int(rng.integers(0, 1 << 31))
    ids = (np.arange(VOCAB, dtype=np.int64) * mult + off) % (1 << 31)
    return rng.permutation(ids).astype(np.int32)


def token_table(seed: int, n_docs: int, n_files: int) -> str:
    """Parquet table ``(doc_id, tokens array<int32>, n_tok, source)``.

    Tokens are Zipf(1.1) over a permuted 2^17 vocabulary; doc lengths are
    lognormal with median 256; 4 sources. answers.json holds the exact
    total token count and the distinct token counts overall and per source.
    """
    return _cached(f"tok_{seed}_{n_docs}_{n_files}", "tok", seed, n_docs, n_files)


def _write_token_table(out: str, seed: int, n_docs: int, n_files: int) -> dict:
    rng = np.random.default_rng([seed, n_docs, 1])
    lens = np.clip(
        np.rint(rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n_docs)), 1, 8192
    ).astype(np.int32)
    src = rng.integers(0, len(SOURCES), n_docs).astype(np.int8)
    ranks = _zipf_ranks(rng, int(lens.sum()))
    tokens = _vocab_ids(rng)[ranks]
    offsets = np.concatenate([[0], np.cumsum(lens, dtype=np.int64)])
    # occurrences of each (rank, source): distinct counts are nonzero cells
    seen = np.bincount(
        ranks.astype(np.int64) * len(SOURCES) + np.repeat(src, lens),
        minlength=VOCAB * len(SOURCES),
    ).reshape(VOCAB, len(SOURCES)) > 0
    answers = {
        "n_docs": n_docs,
        "total_tokens": int(lens.sum()),
        "distinct": int(seen.any(axis=1).sum()),
        "distinct_per_source": {n: int(seen[:, i].sum()) for i, n in enumerate(SOURCES)},
        "files": n_files,
    }
    bounds = np.linspace(0, n_docs, n_files + 1).astype(np.int64)
    src_names = np.array(SOURCES, dtype=object)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        off = offsets[lo : hi + 1]
        col = pa.ListArray.from_arrays(
            pa.array((off - off[0]).astype(np.int32)),
            pa.array(tokens[off[0] : off[-1]], pa.int32()),
        )
        t = pa.table(
            {
                "doc_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "tokens": col,
                "n_tok": pa.array(lens[lo:hi]),
                "source": pa.array(src_names[src[lo:hi]], pa.string()),
            }
        )
        pq.write_table(t, os.path.join(out, "data", f"part-{f:03d}.parquet"))
    return answers


# ---- text corpus with planted near-duplicates -------------------------------

SHINGLE = 5
# word-edit rates of the planted copies; 0.0 is an exact duplicate
EDIT_RATES = (0.0, 0.01, 0.03, 0.1, 0.3)
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def shingles(text: str) -> set[str]:
    return {text[i : i + SHINGLE] for i in range(max(1, len(text) - SHINGLE + 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _words(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(3, 10, n)
    chars = _LETTERS[rng.integers(0, 26, int(lens.sum()))].tobytes().decode()
    ends = np.cumsum(lens)
    return [chars[e - l : e] for e, l in zip(ends, lens)]


def text_corpus(seed: int, n_docs: int, n_planted: int) -> str:
    """Parquet ``(doc_id bigint, text string)`` word-salad corpus.

    ``n_planted`` docs are copies of earlier docs with a share of their
    words replaced (rates cycle through EDIT_RATES). answers.json lists
    each planted pair ``[id_a, id_b, true 5-shingle Jaccard]`` and the
    total word count.
    """
    return _cached(f"text_{seed}_{n_docs}_{n_planted}", "text", seed, n_docs, n_planted)


def _write_text_corpus(out: str, seed: int, n_docs: int, n_planted: int) -> dict:
    rng = np.random.default_rng([seed, n_docs, 2])
    vocab = _words(rng, 20_000)
    word_w = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.0
    word_cdf = np.cumsum(word_w) / word_w.sum()
    n_base = n_docs - n_planted
    lens = rng.integers(60, 140, n_base)
    picks = np.searchsorted(word_cdf, rng.random(int(lens.sum())), side="right")
    ends = np.cumsum(lens)
    docs = [picks[e - l : e] for e, l in zip(ends, lens)]
    pairs = []
    origins = rng.choice(n_base, n_planted, replace=False)
    for j, orig in enumerate(origins):
        rate = EDIT_RATES[j % len(EDIT_RATES)]
        copy = docs[orig].copy()
        n_edit = int(round(rate * len(copy)))
        if n_edit:
            at = rng.choice(len(copy), n_edit, replace=False)
            copy[at] = rng.integers(0, len(vocab), n_edit)
        docs.append(copy)
        pairs.append([int(orig), n_base + j])
    texts = [" ".join(vocab[w] for w in d) for d in docs]
    for p in pairs:
        p.append(jaccard(texts[p[0]], texts[p[1]]))
    # shuffle doc ids so planted copies are not clustered at the end
    perm = rng.permutation(n_docs)
    pairs = [sorted([int(perm[a]), int(perm[b])]) + [j] for a, b, j in pairs]
    order = np.argsort(perm)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array([texts[i] for i in order], pa.string()),
            }
        ),
        os.path.join(out, "data", "part-000.parquet"),
    )
    return {
        "n_docs": n_docs,
        "total_words": int(sum(len(d) for d in docs)),
        "pairs": pairs,
    }


if __name__ == "__main__":
    # python3 inputs.py {tok|text} <cache entry> <int args...>, from _cached
    _WRITERS = {"tok": _write_token_table, "text": _write_text_corpus}
    _build(sys.argv[2], _WRITERS[sys.argv[1]], *map(int, sys.argv[3:]))
