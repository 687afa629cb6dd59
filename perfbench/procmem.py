"""Peak resident memory of the Spark processes, sampled from ``/proc``.

The benchmark process starts the JVM (through ``spark-submit``); the JVM
forks the ``pyspark.daemon``, which forks the Python workers.  All of them
are descendants of the benchmark process, so one walk of the parent links
in ``/proc/<pid>/stat`` finds them.  The benchmark's own Python process is
not counted: it only drives the engine.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def classify(pid: int) -> dict[str, list[int]]:
    """Group ``pid``'s descendants into jvm / python_daemon / python_worker
    / other.  Workers are forked from the daemon without exec, so they
    share its command line and are told apart by their parent."""
    groups: dict[str, list[int]] = defaultdict(list)
    kids = _children()
    todo = [(p, pid) for p in kids.get(pid, ())]
    while todo:
        p, parent = todo.pop()
        cmd = cmdline(p)
        if "java" in cmd.split(" ", 1)[0]:
            kind = "jvm"
        elif "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
            parent_cmd = cmdline(parent)
            daemon_parent = "pyspark.daemon" in parent_cmd
            kind = "python_worker" if daemon_parent else "python_daemon"
        elif "pyspark.worker" in cmd:
            kind = "python_worker"
        else:
            kind = "other"
        groups[kind].append(p)
        todo.extend((c, p) for c in kids.get(p, ()))
    return dict(groups)


class RssSampler(threading.Thread):
    """Background sampler: the peak over samples of the summed RSS of every
    descendant of ``pid``."""

    def __init__(self, pid: int | None = None, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid = pid or os.getpid()
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, tuple[int, int]] = {}
        self._halt = threading.Event()
        self._lock = threading.Lock()  # reset() races with the sampler

    def sample(self) -> int:
        parts = {
            kind: (len(pids), sum(rss_bytes(p) for p in pids))
            for kind, pids in classify(self.pid).items()
        }
        total = sum(b for _, b in parts.values())
        with self._lock:
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
        return total

    def reset(self) -> None:
        """Forget the peak so far (e.g. the set-up's)."""
        with self._lock:
            self.peak, self.peak_parts = 0, {}

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()
