"""What /proc says about the benchmark's own process tree and its host.

The tree is this process plus every descendant: the Spark JVM and the
Python workers it forks. Executor CPU time as Spark reports it leaves out
the Python workers, so the CPU split is read here instead.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float] | None:
    """(comm, ppid, own cpu s, cpu s incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ticks = [int(x) for x in fields[11:15]]
    return comm, int(fields[1]), sum(ticks[:2]) / _TICK, sum(ticks) / _TICK


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    st = None
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        st = raw[raw.rindex(")") + 2]
    except OSError:
        pass
    return st is not None and st not in "ZX"


def tree(root: int | None = None) -> dict[int, tuple[str, int, float, float]]:
    """{pid: _stat(pid)} for ``root`` and all its descendants."""
    root = root or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_split(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds of the driver, the JVM and the Python workers.

    The driver's own count excludes its reaped children; everything below
    the JVM counts as a Python worker."""
    root = root or os.getpid()
    procs = tree(root)
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
    for pid, (comm, ppid, own, total) in procs.items():
        kind = _kind(pid, comm, ppid, root)
        out[kind] += total if kind == "python_worker" else own
    return out


def _kind(pid: int, comm: str, ppid: int, root: int) -> str:
    if pid == root:
        return "driver"
    return "jvm" if comm == "java" and ppid == root else "python_worker"


def _hwm_bytes(pid: int) -> int:
    """The kernel's record of the process's peak resident set (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_reference(pid: int) -> bool:
    """True for the benchmark's own host-speed kernel (``calib.py``), which
    is not part of the program whose memory is measured."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"calib.py" in f.read()
    except OSError:
        return False


class RssSampler:
    """Peak resident memory of the tree: every process's own high-water
    mark, summed. The kernel keeps each peak, so sampling only has to see
    each process once while it lives; a process that has exited keeps the
    last peak read."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self._hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        root = os.getpid()
        for pid, (comm, ppid, _, _) in tree(root).items():
            hwm = _hwm_bytes(pid)
            if hwm and not _is_reference(pid):
                self._hwm[pid] = (_kind(pid, comm, ppid, root), hwm)

    @property
    def peak(self) -> int:
        return sum(b for _, b in self._hwm.values())

    def by_kind(self) -> dict[str, int]:
        out = {"driver": 0, "jvm": 0, "python_worker": 0}
        for kind, b in self._hwm.values():
            out[kind] += b
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostConditions:
    """Steal %, load average and affinity over a stretch of the run."""

    def __init__(self):
        self._c0 = _cpu_times()
        self._load0 = os.getloadavg()[0]
        self._t0 = time.time()

    def report(self) -> dict:
        d = [b - a for a, b in zip(self._c0, _cpu_times())]
        busy = sum(d) or 1
        return {
            "steal_pct": round(100.0 * d[7] / busy, 2) if len(d) > 7 else None,
            "loadavg": [round(self._load0, 2), round(os.getloadavg()[0], 2)],
            "affinity_cores": len(os.sched_getaffinity(0)),
            "host_cores": os.cpu_count(),
            "span_s": round(time.time() - self._t0, 1),
        }
