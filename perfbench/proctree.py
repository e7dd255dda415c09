"""CPU, resident memory and disk writes of a process tree, read from /proc.

The tree is the benchmark worker plus everything it starts: the Spark JVM
and the JVM's Python daemon and workers.  CPU includes children that have
already exited and been reaped (cutime/cstime), so short-lived Python
workers are counted.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; everything after the last ')' is fixed-format
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """utime + stime of each process plus its reaped children, in seconds."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # fields 14..17 of stat (1-based) = utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def write_bytes(pids: list[int]) -> int:
    """Bytes the live processes have caused to be written to storage."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as f:
                for line in f:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


class Sampler:
    """One thread that samples the tree's RSS every ``interval`` seconds.

    ``begin()``/``end()`` bracket a measured phase; ``end()`` returns the
    phase's CPU seconds, peak RSS bytes and bytes written.
    """

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._start: tuple[float, int] | None = None

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            rss = rss_bytes(tree(self.root))
            with self._lock:
                self._peak = max(self._peak, rss)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def begin(self) -> None:
        pids = tree(self.root)
        with self._lock:
            self._peak = rss_bytes(pids)
        self._start = (cpu_s(pids), write_bytes(pids))

    def end(self) -> tuple[float, int, int]:
        pids = tree(self.root)
        cpu0, wb0 = self._start
        rss = rss_bytes(pids)
        with self._lock:
            peak = max(self._peak, rss)
        return cpu_s(pids) - cpu0, peak, write_bytes(pids) - wb0
