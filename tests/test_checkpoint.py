"""Checkpointed, resumable builds with per-file lineage (SURVEY.md §5 item 6):
kill after K files, resume, final states byte-identical to an uninterrupted
run. Reference analog: serialization round-trip guarantee
(testsrc/serial_test.cpp:25-39) lifted to job level."""

import os
import shutil

import pytest

from sketch_spark.spark.agg import SketchSpec
from sketch_spark.spark.checkpoint import checkpointed_build, lineage_report

SPECS = [
    SketchSpec("h", "hll", "tokens", {"p": 12}),
    SketchSpec("c", "cms", "tokens", {"l2sz": 14, "nh": 4}),
    # round-2/3 kinds ride the same kind-agnostic lineage path
    SketchSpec("s", "smh", "tokens", {"m": 128}),
    SketchSpec("y", "hmh", "tokens", {"p": 10, "r": 8}),
    SketchSpec("p", "phll", "tokens", {"p": 10}),
    SketchSpec("k", "hk", "tokens", {"nbuckets": 4096, "nh": 2}),
    SketchSpec("v", "csvec", "tokens", {"d_out": 1024, "ns": 2}),
]


@pytest.fixture()
def ckpt_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_build_and_lineage(spark, fixtures, ckpt_dir):
    d, answers = fixtures
    input_path = os.path.join(d, "uniform")
    sk = checkpointed_build(spark, input_path, SPECS, ckpt_dir)
    exact = answers["uniform"]["distinct"]
    assert abs(sk["h"].estimate() - exact) <= 3 * sk["h"].relative_error() * exact
    assert sk["c"].total() == answers["uniform"]["n_tokens"]
    n_files = len([f for f in os.listdir(input_path) if f.endswith(".parquet")])
    rep = lineage_report(spark, ckpt_dir).collect()
    assert len(rep) == n_files
    assert all(set(r["sketches"]) == {s.name for s in SPECS} for r in rep)


def test_kill_and_resume_byte_identical(spark, fixtures, ckpt_dir, tmp_path):
    d, _ = fixtures
    input_path = os.path.join(d, "uniform")
    # uninterrupted control run
    control = checkpointed_build(spark, input_path, SPECS, str(tmp_path / "control"))

    # crash after 5 of 16 files
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpointed_build(spark, input_path, SPECS, ckpt_dir, fail_after_files=5)
    done_after_crash = {r["file"] for r in lineage_report(spark, ckpt_dir).collect()}
    assert len(done_after_crash) == 5

    # resume: computes only the remaining files, merges everything
    resumed = checkpointed_build(spark, input_path, SPECS, ckpt_dir)
    for name in ("h", "c"):
        assert resumed[name].to_bytes() == control[name].to_bytes()


def test_rerun_after_completion_is_stable(spark, fixtures, ckpt_dir):
    d, _ = fixtures
    input_path = os.path.join(d, "uniform")
    first = checkpointed_build(spark, input_path, SPECS, ckpt_dir)
    again = checkpointed_build(spark, input_path, SPECS, ckpt_dir)  # no new work
    for name in ("h", "c"):
        assert first[name].to_bytes() == again[name].to_bytes()


def test_spec_with_no_values_in_any_file(spark, tmp_path):
    """A spec whose column is empty in every file has no checkpoint row; the
    build still returns its identity sketch, like the other build paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sketch_spark.spark.agg import build_sketches
    from sketch_spark.spark.files import build_sketches_from_parquet

    input_path = tmp_path / "in"
    input_path.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({
                "tokens": pa.array([[], []], pa.list_(pa.int32())),
                "n_tok": pa.array([0, 0], pa.int32()),
            }),
            str(input_path / f"part-{i}.parquet"),
        )
    specs = [
        SketchSpec("hll", "hll", "tokens", {"p": 12}),
        SketchSpec("kll", "kll", "n_tok", {"k": 200}),
    ]
    got = checkpointed_build(spark, str(input_path), specs, str(tmp_path / "ckpt"))
    assert sorted(got) == ["hll", "kll"]
    assert got["hll"].to_bytes() == specs[0].new().to_bytes()
    assert sorted(build_sketches(spark.read.parquet(str(input_path)), specs)) == sorted(got)
    assert sorted(build_sketches_from_parquet(spark, str(input_path), specs)) == sorted(got)
