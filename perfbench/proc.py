"""CPU time and RSS of this process and its descendants, read from
/proc. One sampler thread polls the tree; the JVM is a child of the
driver and the Python workers are children of the JVM."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(ppid, cpu_seconds, rss_bytes, command) or None if the process
    is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.find(b"(") + 1:s.rfind(b")")].decode(errors="replace")
    rest = s[s.rfind(b")") + 2:].split()
    # fields after the command, from 0: state ppid ... utime(11)
    # stime(12) ... rss(21) in pages
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK, int(rest[21]) * _PAGE, comm


def tree(root: int) -> dict[int, tuple[float, int, str]]:
    """{pid: (cpu_seconds, rss_bytes, command)} for root and all
    descendants."""
    info = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                info[int(d)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1:]
            todo.extend(kids.get(pid, ()))
    return out


class TreeSampler:
    """Polls this process's tree every ``interval`` seconds. Keeps, per
    pid, the last CPU total seen (so a worker that exits between two
    reads loses at most one interval), the peak of the summed RSS and
    the peak of the Python workers' summed RSS."""

    def __init__(self, interval: float = 0.25):
        self.root = os.getpid()
        self.interval = interval
        self._cpu: dict[int, float] = {}
        self._peak_rss = 0
        self._peak_workers = 0
        self._peak_split: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        t = tree(self.root)
        with self._lock:
            for pid, (cpu, _, _) in t.items():
                self._cpu[pid] = cpu
            total = sum(r for _, r, _ in t.values())
            # Python workers: every process of the tree but this one
            # and the JVM
            workers = sum(r for pid, (_, r, comm) in t.items() if pid != self.root and comm != "java")
            self._peak_workers = max(self._peak_workers, workers)
            if total > self._peak_rss:
                self._peak_rss = total
                self._peak_split = {}
                for _, r, comm in t.values():
                    self._peak_split[comm] = self._peak_split.get(comm, 0) + r

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "TreeSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)

    def cpu_s(self) -> float:
        """CPU seconds used by the tree so far (a fresh sample)."""
        self._sample()
        with self._lock:
            return sum(self._cpu.values())

    def peak_rss_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak_rss / 2**20

    def peak_workers_mb(self) -> float:
        """Peak summed RSS of the Python workers alone."""
        with self._lock:
            return self._peak_workers / 2**20

    def peak_split_mb(self) -> dict[str, float]:
        """The peak's RSS by command name (java, python3, ...)."""
        with self._lock:
            return {k: round(v / 2**20, 1) for k, v in self._peak_split.items()}
