"""The benchmark's process tree, read from ``/proc``: the JVM the session
runs in and its Python workers are descendants of the benchmark process."""

from __future__ import annotations

import os
import threading
import time

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` of every process, split after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                pass
    return out


def descendants(stats: dict[int, list[str]] | None = None) -> list[int]:
    stats = _stats() if stats is None else stats
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    todo, out = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s(whole_process: bool = False) -> float:
    """CPU seconds used so far by the calling thread (or, with
    ``whole_process``, by every thread of this process) and by every
    descendant process, including the children they have reaped.

    Time the hypervisor gave to other guests (steal) is not charged to a
    process, so on a shared host this reads steadier than a wall clock. A
    child that exits unreaped between two readings drops out of their
    difference; the JVM and Spark's Python daemon reap theirs."""
    stats = _stats()
    ticks = 0
    for pid in descendants(stats):
        st = stats[pid]
        ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return (time.process_time() if whole_process else time.thread_time()) + ticks * TICK_S


class RssSampler(threading.Thread):
    """Peak resident memory of every descendant process (the JVM and its
    Python workers), sampled every 100 ms. Python processes count their
    proportional set size, since forked workers share pages with their
    daemon; the JVM counts its RSS, because reading a 2 GB process's PSS
    walks its page tables (~35 ms) and stalls it."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def sample_kb() -> int:
        total = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    status = f.read()
                field = "VmRSS:" if "\nName:\tjava" in "\n" + status else "Pss:"
                if field == "Pss:":
                    with open(f"/proc/{pid}/smaps_rollup") as f:
                        status = f.read()
                total += next(
                    (int(line.split()[1]) for line in status.splitlines() if line.startswith(field)), 0)
            except OSError:
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.peak_kb = max(self.peak_kb, self.sample_kb())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)

