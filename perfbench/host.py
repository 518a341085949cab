"""Host record and memory sampling from /proc.

``HostSampler`` polls, on a background thread, the resident memory of
this process and every descendant (the driver JVM and its Python
workers) and keeps the peak of their sum. ``host_record`` describes the
machine and the noise on it over the run: core count, load average and
the share of CPU time stolen by the hypervisor; ``sha_probe`` times a
fixed multi-core hashing job, whose median over a run tracks how fast
the shared host was while the run was measured.
"""

from __future__ import annotations

import os
import threading
import time


def _procs() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, vsize, rss pages) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the parenthesised command name start at field 3
        out[int(d)] = (int(f[1]), int(f[20]), int(f[21]))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(f[11]) + int(f[12])  # utime + stime


def _mem_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it, so a tree's sum counts it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(root: int, procs: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """Pids of the live processes below ``root``."""
    return _tree(root, _procs())[1:]


def wait_gone(pids: set[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` is alive; kill what is left after
    ``timeout_s``."""
    deadline = time.time() + timeout_s
    while pids and time.time() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def tree_mem_bytes(root: int) -> int:
    """Memory of ``root`` and its descendants. A child caught between
    vfork and exec shares its parent's address space and reports the
    same size; it is skipped so that the space is not counted twice."""
    procs = _procs()
    total = 0
    for pid in _tree(root, procs):
        ppid, vsize, rss = procs.get(pid, (0, 0, 0))
        parent = procs.get(ppid)
        if pid != root and parent and parent[1:] == (vsize, rss):
            continue
        total += _mem_bytes(pid)
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants."""
    ticks = sum(_cpu_ticks(p) for p in _tree(root, _procs()))
    return ticks / os.sysconf("SC_CLK_TCK")


def sha_probe(threads: int = 4, mib: int = 4) -> float:
    """Wall time for ``threads`` threads to hash ``mib`` MiB each at once
    (hashlib releases the GIL): the host's current multi-core speed."""
    import hashlib

    buf = bytes(mib * 2**20)
    workers = [threading.Thread(target=lambda: hashlib.sha256(buf).digest())
               for _ in range(threads)]
    t0 = time.perf_counter()
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return time.perf_counter() - t0


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostSampler:
    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mem = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._cpu0 = cpu_times()
        self._load0 = os.getloadavg()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mem = max(self.peak_mem, tree_mem_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> HostSampler:
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=5)
        return host_record(self._cpu0, cpu_times(), self._load0)


def host_record(cpu0: list[int], cpu1: list[int], load0) -> dict:
    d = [b - a for a, b in zip(cpu0, cpu1)]
    total = sum(d) or 1
    steal = d[7] if len(d) > 7 else 0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(load0),
        "loadavg_end": list(os.getloadavg()),
        "cpu_steal_pct": round(100.0 * steal / total, 2),
        "cpu_idle_pct": round(100.0 * d[3] / total, 2),
    }
