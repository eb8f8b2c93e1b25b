"""Huge-page switch (sketch_spark/mem.py).

The toggle is process-global NumPy state, so every test restores the
decision the package import made for this process afterwards.
"""

import os
import subprocess
import sys

import numpy as np
import pytest

from sketch_spark import mem
from sketch_spark.sketches.base import make_sketch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(autouse=True)
def _restore_import_decision():
    decision = mem.last_tuning
    yield
    mem._set_madvise(not decision["toggled"])
    mem.last_tuning = decision


def test_numpy_hook_exists_here():
    # the private hook has existed since numpy 1.18; if a future numpy drops
    # it, the switch degrades to keeping NumPy's default (toggled=False)
    assert mem._set_madvise(True)


def test_policy_off_toggles(monkeypatch):
    monkeypatch.setenv("SKETCH_SPARK_HUGEPAGE", "off")
    assert mem._apply() == {"policy": "off", "toggled": True}
    assert mem.last_tuning == {"policy": "off", "toggled": True}


def test_policy_on_is_a_noop(monkeypatch):
    monkeypatch.setenv("SKETCH_SPARK_HUGEPAGE", "on")
    assert mem._apply() == {"policy": "on", "toggled": False}


def test_default_is_a_noop(monkeypatch):
    monkeypatch.delenv("SKETCH_SPARK_HUGEPAGE", raising=False)
    assert mem._apply() == {"policy": "default", "toggled": False}


def test_package_import_applies_the_switch():
    """Spark workers get the policy only by importing the package, so the
    switch must run on ``import sketch_spark`` with nothing else called."""
    env = {**os.environ, "SKETCH_SPARK_HUGEPAGE": "off", "PYTHONPATH": REPO}
    code = "import json, sketch_spark; print(json.dumps(sketch_spark.mem.last_tuning))"
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120, check=True
    )
    assert out.stdout.strip() == '{"policy": "off", "toggled": true}'


def test_kernels_identical_under_either_policy():
    """The policy touches allocation speed only — sketch bytes must be
    bit-identical either way."""
    vals = np.arange(100_000, dtype=np.int64)
    blobs = []
    for enabled in (True, False):
        mem._set_madvise(enabled)
        sk = make_sketch("hll", p=12)
        sk.update(vals)
        blobs.append(sk.to_bytes())
    assert blobs[0] == blobs[1]
