"""CPU time and resident memory of this process and all its descendants
(the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(command name, stat(5) fields from field 3 on), or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None  # exited between listing and reading
    # the command name is parenthesised and may hold spaces
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, tuple[str, list[str]]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, fields) in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_pids() -> list[int]:
    return list(_tree())


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, including children that
    already exited and were reaped inside it (cutime/cstime)."""
    # utime, stime, cutime, cstime are fields 14-17 of stat(5)
    return sum(sum(int(v) for v in fields[11:15]) for _, fields in _tree().values()) / _TICKS


def tree_rss_bytes() -> int:
    tree = _tree()
    total = 0
    for _, fields in tree.values():
        parent = tree.get(int(fields[1]))
        # The JVM starts processes (chmod on parquet writes, Python daemons)
        # through a momentary clone that shares its memory: a child with its
        # parent's exact address-space size (vsize, field 23) is not counted.
        if parent is not None and parent[1][20] == fields[20]:
            continue
        total += int(fields[21]) * _PAGE  # rss, field 24
    return total


class PeakRss:
    """Samples the tree's summed RSS every `interval` seconds on a
    background thread between `start()` and `stop()`; `peak` is the max."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.interval):
                return

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
