"""Spark event-log parser: per-job-group engine metrics.

Reads one uncompressed, non-rolling event log (JSON lines, as written with
``spark.eventLog.compress=false`` and ``spark.eventLog.rolling.enabled=false``)
and rolls the task metrics up per job group. The benchmark gives every
iteration its own job group, so a group is one iteration.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class _Stage:
    submitted_ms: int = 0
    completed_ms: int = 0
    tasks: list = field(default_factory=list)  # (run_ms, launch_ms, finish_ms)
    gc_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    result_bytes: int = 0


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Total length in seconds of the union of [start, end) ms intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def parse(path: str) -> dict[str, dict]:
    """{job group: {"jobs", "stages": {stage id: _Stage}}} for one log."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    stages: dict[int, _Stage] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                g = groups.setdefault(group, {"jobs": 0, "stages": {}})
                g["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _Stage())
                st.submitted_ms = info.get("Submission Time", 0)
                st.completed_ms = info.get("Completion Time", 0)
            elif kind == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                st = stages.setdefault(e["Stage ID"], _Stage())
                run = tm.get("Executor Run Time", 0)
                launch, finish = ti["Launch Time"], ti["Finish Time"]
                st.tasks.append((run, launch, finish))
                st.gc_ms += tm.get("JVM GC Time", 0)
                # the Spark UI's scheduler delay: task duration not spent
                # deserializing, running, serializing or fetching the result
                st.sched_delay_ms += max(
                    0,
                    finish - launch - run
                    - tm.get("Executor Deserialize Time", 0)
                    - tm.get("Result Serialization Time", 0)
                    - ti.get("Getting Result Time", 0),
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.result_bytes += tm.get("Result Size", 0)
    for sid, st in stages.items():
        group = stage_group.get(sid)
        if group is not None and st.tasks:
            groups[group]["stages"][sid] = st
    return groups


def group_metrics(group: dict, wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` metrics of one job group that took ``wall_s``."""
    sts = list(group["stages"].values())
    tasks = [t for st in sts for t in st.tasks]
    run_s = sum(t[0] for t in tasks) / 1e3
    skew = 1.0
    if sts:
        busiest = max(sts, key=lambda st: sum(t[0] for t in st.tasks))
        times = [t[0] for t in busiest.tasks]
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    in_stages = _union_s([(st.submitted_ms, st.completed_ms) for st in sts])
    return {
        "spark.jobs": group["jobs"],
        "spark.stages": len(sts),
        "spark.tasks": len(tasks),
        "spark.task_run_s": run_s,
        "spark.task_skew": skew,
        "spark.sched_delay_s": sum(st.sched_delay_ms for st in sts) / 1e3,
        "spark.gc_s": sum(st.gc_ms for st in sts) / 1e3,
        "spark.shuffle_write_bytes": sum(st.shuffle_write for st in sts),
        "spark.shuffle_read_bytes": sum(st.shuffle_read for st in sts),
        "spark.result_bytes": sum(st.result_bytes for st in sts),
        "spark.busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.driver_gap_s": max(0.0, wall_s - in_stages),
    }
