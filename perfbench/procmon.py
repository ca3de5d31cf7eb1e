"""/proc sampler for the benchmark client and every process under it:
the Spark driver JVM and the Python workers it forks.

``psutil`` is not available, so this reads ``/proc/<pid>/stat``
directly. CPU per process is ``utime+stime+cutime+cstime``, so the CPU
of a worker that exits and is reaped moves into its parent's count
instead of vanishing from the tree total.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL_S = 0.25


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def cpu_steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """``(ppid, comm, cpu_s, rss_bytes)`` or None if the pid is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parens: split around the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    f = rest.split()
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return int(f[1]), comm, ticks / _TICK, int(f[21]) * _PAGE


def _pss(pid: int) -> int | None:
    """Proportional set size: shared pages split between the processes
    mapping them, so forked Python workers are not counted once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def _group(pid: int, root: int, comm: str) -> str:
    """Monitor node name (``\\w+-\\w+``, as ``plans.monitor`` parses)."""
    if pid == root:
        return "bench-client"
    if comm == "java":
        return "driver-jvm"
    return "python-workers"


class ProcTree:
    """Snapshot of ``root`` and all its descendants."""

    def __init__(self, root: int, pss: bool = False) -> None:
        self.root = root
        self.pss = pss

    def snapshot(self) -> dict[int, tuple[str, float, int]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _, _, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out = {}
        todo = [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                _, comm, cpu, rss = stats[pid]
                if self.pss:
                    rss = _pss(pid) or rss
                out[pid] = (_group(pid, self.root, comm), cpu, rss)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(cpu for _, cpu, _ in self.snapshot().values())

    def descendants(self) -> list[int]:
        return [p for p in self.snapshot() if p != self.root]


class Sampler:
    """Background thread sampling the tree every ``SAMPLE_INTERVAL_S``.

    Keeps the peak total memory (PSS) and, per sample, CPU % and memory % for
    each process group, which ``write_monitor_log`` renders in the
    reference collector's ``monitor.log`` format."""

    def __init__(self, root: int) -> None:
        self.tree = ProcTree(root, pss=True)
        self.ncpu = os.cpu_count() or 1
        self.mem_total = mem_total_bytes()
        self.peak_pss = 0
        self.samples: list[dict[str, tuple[float, float]]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._prev: tuple[float, dict[int, float]] | None = None

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def reset_peak(self) -> None:
        self.peak_pss = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(SAMPLE_INTERVAL_S)

    def _sample(self) -> None:
        now = time.monotonic()
        snap = self.tree.snapshot()
        self.peak_pss = max(self.peak_pss, sum(rss for _, _, rss in snap.values()))
        cpu_now = {pid: cpu for pid, (_, cpu, _) in snap.items()}
        if self._prev is not None:
            t0, cpu0 = self._prev
            dt = max(now - t0, 1e-6)
            groups: dict[str, list[float]] = {}
            for pid, (group, cpu, rss) in snap.items():
                g = groups.setdefault(group, [0.0, 0.0])
                g[0] += max(0.0, cpu - cpu0.get(pid, cpu))
                g[1] += rss
            self.samples.append({
                group: (100.0 * c / dt / self.ncpu, 100.0 * r / self.mem_total)
                for group, (c, r) in groups.items()
            })
        self._prev = (now, cpu_now)

    def write_monitor_log(self, path: str) -> int:
        """Write the samples as ``----``-separated blocks of
        ``[node] CPU: x% | MEM: y%`` lines; returns the line count."""
        lines = ["===== Real Performance Monitor Started at bench ====="]
        n = 0
        for sample in self.samples:
            lines.append("----")
            for group in sorted(sample):
                cpu, mem = sample[group]
                # the reference collector prints a bare 0 for an idle
                # interval, which the parser drops; keep every sample
                lines.append(f"[{group}] CPU: {max(cpu, 0.01):.2f}% | MEM: {int(mem)}%")
                n += 1
        lines.append("===== Job Finished =====")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        return n
