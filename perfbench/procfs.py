"""Process-tree and host samplers read straight from ``/proc`` (Linux).

The engine under test is a process tree: this Python driver, the JVM it
launches, and the Python UDF workers the JVM forks. CPU time and RSS are
summed over that tree. Host steal and the load average describe the window
an op ran in, so a slow op can be attributed to the environment.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str) -> tuple[int, int]:
    """(ppid, cpu_ticks) from one ``/proc/<pid>/stat`` line.

    cpu_ticks = utime + stime + cutime + cstime, so the CPU of children that
    already exited and were reaped (e.g. recycled UDF workers) stays counted
    in their parent. The command name may contain spaces and parentheses, so
    fields are split after its last ``)``.
    """
    fields = text.rsplit(")", 1)[1].split()
    # fields[0] is the state (field 3); ppid is field 4, utime..cstime 14..17.
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def parse_steal_ticks(proc_stat: str) -> int:
    """Steal ticks summed over all CPUs (8th value of the ``cpu`` line)."""
    for line in proc_stat.splitlines():
        if line.startswith("cpu "):
            vals = line.split()[1:]
            return int(vals[7]) if len(vals) > 7 else 0
    raise ValueError("no aggregate cpu line in /proc/stat")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def _all_stats(proc: str) -> dict[int, tuple[int, int]]:
    out = {}
    for name in os.listdir(proc):
        if name.isdigit():
            text = _read(f"{proc}/{name}/stat")
            if text:
                out[int(name)] = parse_stat(text)
    return out


def tree_of(root: int, parents: dict[int, int]) -> set[int]:
    """``root`` and all its descendants, given a pid → ppid map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in tree:
            tree.add(pid)
            todo.extend(children.get(pid, ()))
    return tree


def tree_pids(root: int | None = None, proc: str = "/proc") -> set[int]:
    stats = _all_stats(proc)
    return tree_of(root or os.getpid(), {p: s[0] for p, s in stats.items()})


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds (user + system, reaped children included) of the tree."""
    stats = _all_stats(proc)
    pids = tree_of(root or os.getpid(), {p: s[0] for p, s in stats.items()})
    return sum(stats[p][1] for p in pids if p in stats) / CLK_TCK


def tree_rss_bytes(pids: set[int], proc: str = "/proc") -> int:
    total = 0
    for pid in pids:
        text = _read(f"{proc}/{pid}/statm")
        if text:
            total += int(text.split()[1]) * PAGE_SIZE
    return total


def steal_s(proc: str = "/proc") -> float:
    return parse_steal_ticks(Path(f"{proc}/stat").read_text()) / CLK_TCK


def load1(proc: str = "/proc") -> float:
    return float(Path(f"{proc}/loadavg").read_text().split()[0])


@dataclass
class Window:
    """What the host did while one op ran (reported, never gated)."""

    cpu_s: float
    steal_s: float
    load1: float
    peak_rss_mb: float


class OpSampler:
    """Context manager around one op: tree CPU and host steal deltas, the
    1-minute load average at the end, and the tree's peak RSS sampled by a
    background thread every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.window: Window | None = None
        self._stop = threading.Event()
        self._peak = 0

    def _sample(self) -> None:
        pids = tree_pids()
        self._peak = max(self._peak, tree_rss_bytes(pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "OpSampler":
        self._cpu0, self._steal0 = tree_cpu_s(), steal_s()
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
        self.window = Window(
            cpu_s=tree_cpu_s() - self._cpu0,
            steal_s=steal_s() - self._steal0,
            load1=load1(),
            peak_rss_mb=self._peak / 2**20,
        )
