"""Repository benchmark: seeded workloads run in a closed loop on local Spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload token_build --seed 1 --seconds 20 --trace 0

One client sends the next request only after the previous one completed,
against ``local[N]`` with N the cores this process may use. A run makes its
inputs from ``--seed`` (cached under ``perfbench/.cache``), starts a cold
session, warms up, then iterates for ``--seconds`` and checks every
iteration's output. The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones: ``setup_s``,
``wall_s`` (the median iteration), ``tok_per_s`` and ``peak_rss_mb``.
Times are in reference-host seconds: each is scaled by how fast the host
ran a fixed reference kernel before, during and after the run (``calib``), so
that a change in the load other tenants put on the host does not read as
a change in the program; the raw times are on the ``info:`` line.
With ``--trace 1`` the measuring time is split between that untraced
round and a second cold round under Spark's event log, with /proc CPU
readings per iteration, followed by the per-layer microbenchmarks; the
metrics are then the per-layer ones. The line before the result, prefixed
``info:``, records every iteration time, ``ops_failed_frac``, ``write_s``,
the workload's spans and the run conditions (steal, load, affinity, the
huge-page tuner's probe).

Everything the run writes stays under ``perfbench/``; all processes it
starts have exited when it returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# the JVM heap, fixed and touched up front: its resident size is then the
# same in every run instead of following when the collector grew the heap
DRIVER_MEM = "2g"
HUGEPAGE_POLICY = "off"
# how often the host-speed reference is read while measuring
BETWEEN_EVERY_S = 5.0
STOP_TIMEOUT_S = 30


def _session_conf(traced: bool) -> dict:
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(cores: int, traced: bool):
    from sketch_spark.spark.session import get_spark

    spark = get_spark(cores=cores, app="perfbench", extra_conf=_session_conf(traced))
    spark.range(1).count()  # the session is ready once it has run a job
    return spark


def stop_session(spark) -> None:
    """Stop Spark, close the JVM and wait for it and its workers to exit."""
    from pyspark import SparkContext

    import procfs

    started = set(procfs.tree()) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    # workers outlive the JVM briefly, re-parented away from this process
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while time.monotonic() < deadline:
        alive = [pid for pid in started if procfs.alive(pid)]
        if not alive:
            return
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def run_loop(spark, wl, n_warm: int, seconds: float, group: str, on_iter=None, between=None):
    """Warm up, then iterate until ``seconds`` have passed (at least 3 times).

    ``between`` is called when measuring starts and then every
    ``BETWEEN_EVERY_S``, between two iterations. Returns (warm-up seconds,
    [(job group, wall_s, rec)] of the measured iterations that passed their
    checks, attempted, failed, the first few failure messages)."""
    sc = spark.sparkContext
    samples, errors = [], []
    attempted = failed = 0
    t_warm = time.perf_counter()
    t_end = t_between = None
    i = 0
    while True:
        if i == n_warm:
            t_end = t_between = time.perf_counter() + seconds
            warm_s = t_end - seconds - t_warm
            t_between -= seconds
        measuring = t_end is not None
        if between and measuring and time.perf_counter() >= t_between:
            between()
            t_between = time.perf_counter() + BETWEEN_EVERY_S
        sc.setJobGroup(f"{group}{i}" if measuring else f"warm{i}", wl.name)
        wl.rec = {}
        before = on_iter() if on_iter and measuring else None
        t0 = time.perf_counter()
        try:
            out = wl.iterate(spark)
            dt = time.perf_counter() - t0
            after = on_iter() if before is not None else None
            bad = wl.check(out)
        except Exception as e:  # a failed request counts; the loop goes on
            bad = [f"{type(e).__name__}: {e}"]
        attempted += 1
        if bad:
            failed += 1
            errors.extend(bad[:2])
        elif measuring:
            rec = dict(wl.rec)
            if before is not None:
                rec.update({k: after[k] - before[k] for k in before})
            samples.append((f"{group}{i}", dt, rec))
        i += 1
        if measuring and time.perf_counter() >= t_end and i - n_warm >= 3:
            return warm_s, samples, attempted, failed, errors


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def run_round(wl, cores: int, seconds: float, traced: bool, first: bool, ref: list) -> dict:
    """One cold session: start it, warm up, iterate for ``seconds``, stop.

    The workload's one-off preparation (the states_rollup write) happens in
    the first round only. A traced round runs under Spark's event log and
    reads the /proc CPU split around every iteration. Host-speed readings
    taken while measuring are added to ``ref``."""
    import calib
    import procfs

    def cpu():
        return {f"proc.{k}_cpu_s": v for k, v in procfs.cpu_split().items()}

    spark = None
    with procfs.RssSampler() as rss:
        t0 = time.perf_counter()
        try:
            spark = start_session(cores, traced)
            session_s = time.perf_counter() - t0
            if first:
                wl.prepare(spark, WORK)
            warm_s, samples, attempted, failed, errors = run_loop(
                spark,
                wl,
                wl.warmup,
                seconds,
                "it",
                on_iter=cpu if traced else None,
                between=lambda: ref.extend(calib.reading()),
            )
        finally:
            rss.sample()  # the last look before the processes exit
            if spark is not None:
                stop_session(spark)
    return {
        "traced": traced,
        "session_s": session_s,
        "warm_s": warm_s,
        "samples": samples,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "peak_rss": rss.peak,
        "rss_by_kind": rss.by_kind(),
    }


def traced_metrics(wl, rounds: list[dict], cores: int, setup: dict) -> dict:
    """The per-layer metrics of a run with an untraced and a traced round.

    Both rounds start cold and warm up alike, so the ratio of their median
    iteration times is the tracing overhead."""
    import eventlog
    import layers

    log_dir = os.path.join(WORK, "eventlog")
    (log,) = os.listdir(log_dir)
    groups = eventlog.parse(os.path.join(log_dir, log))
    (traced,) = [r for r in rounds if r["traced"]]
    per_iter = []
    for group, dt, rec in traced["samples"]:
        if group in groups:
            rec = {**rec, **eventlog.group_metrics(groups[group], dt, cores)}
        per_iter.append(rec)
    keys = {k for m in per_iter for k in m}
    out = {k: _median(m[k] for m in per_iter if k in m) for k in keys}
    with layers.pinned_core():
        out.update(layers.read_layer(wl.files, wl.layers_column, wl.layer_n_tokens))
        out.update(layers.kernel_layers(wl.layer_tokens()))
    out.update(setup)
    out["agg.keyed_build_s"] = wl.write_s
    out["agg.rollup.states_in"] = getattr(wl, "states_in", 0)
    rollup_s = out.get("agg.rollup_s", 0.0)
    out["agg.rollup.states_per_s"] = out["agg.rollup.states_in"] / rollup_s if rollup_s else 0.0
    cand = out.get("dedup.candidate_pairs", 0)
    out["dedup.useful_frac"] = out.get("dedup.result_pairs", 0) / cand if cand else 0.0
    wall = _median(dt for _, dt, _ in traced["samples"])
    untraced = _median(dt for r in rounds if not r["traced"] for _, dt, _ in r["samples"])
    out["trace.unexplained_s"] = wall - wl.explained_s(out, cores)
    out["trace.overhead_frac"] = wall / untraced - 1.0
    return out


def hugepage_probe() -> dict:
    """What the library's huge-page tuner would pick on this host now.

    The benchmark pins the policy off (see ``main``); this reading, taken
    in a child process under the default policy, records the regime the
    host was in, so a run slowed by memory compaction is visible."""
    env = {**os.environ, "SKETCH_SPARK_HUGEPAGE": "auto", "PYTHONPATH": ROOT}
    code = "import json, sketch_spark.mem as m; print(json.dumps(m.last_tuning))"
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=WORK, capture_output=True, text=True, timeout=120
    )
    return json.loads(out.stdout) if out.returncode == 0 else {"error": out.stderr[-200:]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sketch_spark", "__init__.py")):
        print(f"perfbench: no sketch_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # keep every file Spark, the JVM and the workers write inside perfbench/
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # spark-submit first runs a small launcher JVM, which takes no Spark conf
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Under the default policy every process (driver and each Python worker)
    # probes the host's page-fault speed and keeps or drops NumPy's huge-page
    # advice on that reading, and long-lived workers re-probe as they run. On
    # a shared host whose memory fragmentation comes and goes, that makes a
    # run's speed depend on which regime each worker happened to see, so the
    # benchmark pins the policy (workers inherit the environment).
    os.environ["SKETCH_SPARK_HUGEPAGE"] = HUGEPAGE_POLICY
    sys.path.insert(0, ROOT)

    import sketch_spark  # noqa: F401  (timed: the import runs mem's probe)
    from sketch_spark import mem

    import_s = time.perf_counter() - T_START

    import calib
    import procfs
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.seed)
    t_inputs = time.perf_counter()
    wl.make_inputs()
    probe = hugepage_probe()
    inputs_s = time.perf_counter() - t_inputs
    cores = len(os.sched_getaffinity(0))
    host = procfs.HostConditions()
    ref = calib.reading()
    # each round is a cold session; a traced run adds a traced round after
    # the untraced one, splitting the measuring time between them
    kinds = [False, True] if args.trace else [False]
    rounds = []
    for i, traced in enumerate(kinds):
        rounds.append(run_round(wl, cores, args.seconds / len(kinds), traced, i == 0, ref))
    ref += calib.reading()
    samples = [s for r in rounds if not r["traced"] for s in r["samples"]]
    attempted = sum(r["attempted"] for r in rounds)
    failed = sum(r["failed"] for r in rounds)
    errors = [e for r in rounds for e in r["errors"]]
    if not samples:
        print(f"perfbench: no successful iteration: {errors[:3]}", file=sys.stderr)
        return 1
    session_s = _median(r["session_s"] for r in rounds)
    warm_s = _median(r["warm_s"] for r in rounds)
    wall = _median(dt for _, dt, _ in samples)
    setup = {
        "session.import_s": import_s,
        "session.get_spark_s": session_s,
        "session.warmup_s": warm_s,
    }
    if args.trace:
        metrics = traced_metrics(wl, rounds, cores, setup)
        want = spec["per_layer"]
    else:
        # times in reference-host seconds (see calib); raw ones go to info
        k = calib.scale(ref)
        metrics = {
            "setup_s": k * (import_s + session_s + warm_s),
            "wall_s": k * wall,
            "tok_per_s": wl.n_tokens / (k * wall),
            "peak_rss_mb": max(r["peak_rss"] for r in rounds) / 2**20,
        }
        want = spec["end_to_end"]
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": cores,
        "samples": len(samples),
        "walls_s": [[round(dt, 4) for _, dt, _ in r["samples"]] for r in rounds],
        "raw": {
            "setup_s": {"value": import_s + session_s + warm_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "tok_per_s": {"value": wl.n_tokens / wall, "unit": "tokens/s"},
        },
        "host_ref_ms": {
            "readings": [round(t * 1e3, 2) for t in ref],
            "scale": calib.scale(ref),
        },
        "ops_failed_frac": {"value": failed / attempted, "unit": "ratio"},
        "write_s": {"value": wl.write_s, "unit": "s"},
        "errors": errors[:5],
        "peak_rss_mb_by_kind": [{k: round(v / 2**20) for k, v in r["rss_by_kind"].items()} for r in rounds],
        "tokens": wl.n_tokens,
        # the workload's own spans around each library call, median per iteration
        "spans_s": {
            k: round(_median(rec[k] for _, _, rec in samples if k in rec), 4)
            for k in sorted({k for _, _, rec in samples for k in rec})
        },
        "phases_s": {
            "import": round(import_s, 2),
            "inputs": round(inputs_s, 2),
            "session": [round(r["session_s"], 2) for r in rounds],
            "warmup": [round(r["warm_s"], 2) for r in rounds],
            "total": round(time.perf_counter() - T_START, 2),
        },
        "conditions": {
            **host.report(),
            "hugepage_tuning": mem.last_tuning,
            "hugepage_probe": probe,
        },
    }
    print("info: " + json.dumps(info), flush=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a layer the workload never calls reads 0 (no time, no count)
        "metrics": {
            m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in want
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
