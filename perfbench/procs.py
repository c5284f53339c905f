"""Process-tree sampler over /proc (psutil is not installed).

Covers this process, the Spark JVM it launched and the JVM's
``pyspark.daemon`` Python workers. A daemon thread samples summed RSS a few
times a second in every mode, so traced and untraced runs carry the same
cost; CPU time is read from the kernel's cumulative counters on demand.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s) of `pid`, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2 :].split()
    # fields[0] is state (stat field 3); utime..cstime are stat fields 14-17.
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return int(fields[1]), own, reaped


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "gone"
    if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
        return "python"
    if b"java" in cmd.split(b"\0", 1)[0]:
        return "jvm"
    return "other"


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of `root`."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


class ProcSampler:
    """Samples the tree rooted at this process every `interval` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[tuple[float, float, float, int]] = []  # (t, tree MB, jvm MB, workers)
        self._kinds: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def __enter__(self) -> "ProcSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def kind(self, pid: int) -> str:
        k = self._kinds.get(pid)
        if k is None:
            k = _kind(pid)
            # spark-submit is a shell script that execs java under the same
            # pid, so only a settled answer is cached.
            if k in ("jvm", "python"):
                self._kinds[pid] = k
        return k

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = jvm = workers = 0
            for pid in [me] + descendants(me):
                rss = _rss_bytes(pid)
                tree += rss
                kind = self.kind(pid)
                jvm += rss if kind == "jvm" else 0
                workers += kind == "python"
            self.samples.append((time.perf_counter(), tree / 2**20, jvm / 2**20, workers))
            self._stop.wait(self.interval)

    def peak(self, since: float, until: float) -> tuple[float, float, int]:
        """(max tree MB, max JVM MB, max Python workers) over samples taken
        in [since, until]."""
        window = [s for s in self.samples if since <= s[0] <= until] or self.samples[-1:]
        return tuple(max(s[i] for s in window) for i in (1, 2, 3))

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: 'driver' (this process), 'jvm' (its own
        threads) and 'python' (every pyspark worker, including workers
        already exited and reaped by their daemon)."""
        me = os.getpid()
        t = os.times()
        out = {"driver": t.user + t.system, "jvm": 0.0, "python": 0.0}
        for pid in descendants(me):
            st = _stat(pid)
            if st is None:
                continue
            kind = self.kind(pid)
            if kind == "jvm":
                out["jvm"] += st[1]
            elif kind == "python":
                out["python"] += st[1] + st[2]
        return out
