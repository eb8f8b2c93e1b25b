"""Host-sized session defaults (spark/session.py) and the scaling-bench
guard against core counts the host cannot give."""

import importlib.util
import os
import sys

import pytest

from sketch_spark.spark.session import host_defaults

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cores, mem = host_defaults()
    assert cores == len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert mem.endswith("m") and int(mem[:-1]) == max(1, ram_mb // 2)


def test_env_overrides_both(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert host_defaults() == (3, "5g")


def test_scaling_bench_refuses_a_4n_leg_wider_than_the_host(monkeypatch, capsys):
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", os.path.join(REPO, "tools", "scaling_bench.py")
    )
    scaling_bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scaling_bench)

    def no_child(*a, **k):
        raise AssertionError("a Spark child was started")

    monkeypatch.setattr(scaling_bench.subprocess, "run", no_child)
    n = len(os.sched_getaffinity(0))
    monkeypatch.setattr(sys, "argv", ["scaling_bench.py", "--n", str(n)])
    with pytest.raises(SystemExit) as exc:
        scaling_bench.main()
    assert exc.value.code != 0
    assert f"4N <= {n}" in capsys.readouterr().err
