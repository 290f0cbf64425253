"""Host context and process-tree memory sampling for one benchmark run.

Everything here reads /proc only, so it observes the program from outside:
the driver process, the JVM it launches and the Python workers the JVM
forks are all descendants of this process.
"""

from __future__ import annotations

import os
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what `nproc` prints, minus the
    OMP_NUM_THREADS override it honours)."""
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process exited between listdir and open
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def tree_pids(root: int) -> list[int]:
    """`root` and all of its descendants."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far by
    `root` and its descendants. Time the hypervisor steals is not in it."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited
            continue
        total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:15])
    return total / _TICK


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # exited
        pass
    return 0


class RssSampler:
    """Peak memory of the process tree: the sum, over this process, the JVM
    and the Python workers, of each process's own peak RSS (the kernel's
    VmHWM). The tree is re-read every `interval_s` on a background thread so
    processes that exit before the end still count; the interval is long
    because the thread competes for the interpreter lock with the driver."""

    def __init__(self, interval_s: float = 2.0):
        self.interval_s = interval_s
        self._hwm: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        for pid in tree_pids(os.getpid()):
            name, kib = self._hwm.get(pid, (None, 0))
            if name is None:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        name = f.read().strip()
                except OSError:  # exited
                    continue
            self._hwm[pid] = (name, max(kib, _hwm_kib(pid)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return sum(kib for _, kib in self._hwm.values()) / 1024

    def peak_mb_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, kib in self._hwm.values():
            out[name] = out.get(name, 0.0) + kib / 1024
        return out


class HostContext:
    """nproc, load average at start, steal share over the run and library
    versions: what a reader needs to tell a noisy window from a regression."""

    def __init__(self):
        with open("/proc/loadavg") as f:
            self.loadavg_start = [float(x) for x in f.read().split()[:3]]
        self._cpu0 = _cpu_times()
        self._t0 = time.time()

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        steal = delta[7] if len(delta) > 7 else 0
        versions = {}
        for mod in ("pyspark", "pandas", "pyarrow", "numpy", "duckdb"):
            try:
                versions[mod] = __import__(mod).__version__
            except ImportError:
                versions[mod] = None
        return {
            "nproc": nproc(),
            "loadavg_start": self.loadavg_start,
            "steal_pct": round(100.0 * steal / max(sum(delta), 1), 3),
            "elapsed_s": round(time.time() - self._t0, 3),
            "versions": versions,
        }
