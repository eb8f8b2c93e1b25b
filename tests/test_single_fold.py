"""Guard: every state merge outside the sketch kernels goes through the one
shared fold (``fold_states`` in sketches/base.py), and the fold tree's
shuffled ``coalesce`` level is written exactly once (``agg.tree_fold``).
Hand-written deserialize-merge-reserialize loops elsewhere in the package
fail this test, so copies cannot grow back."""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sketch_spark")


def _package_sources(exclude_dir: str | None = None):
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        if exclude_dir and os.path.relpath(root, PKG).split(os.sep)[0] == exclude_dir:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_no_merge_outside_the_shared_fold():
    hits = [
        f"{rel}:{i}: {line.strip()}"
        for rel, src in _package_sources(exclude_dir="sketches")
        for i, line in enumerate(src.splitlines(), 1)
        if ".merge(" in line
    ]
    assert not hits, "merge states through sketches.base.fold_states:\n" + "\n".join(hits)


def test_one_shuffled_coalesce_fold_level():
    hits = [
        rel
        for rel, src in _package_sources()
        for _ in re.finditer(r"\.coalesce\([^)]*shuffle\s*=\s*True", src)
    ]
    assert hits == ["spark/agg.py"], hits
