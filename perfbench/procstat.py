"""Process-tree CPU time and resident memory, read from ``/proc``.

The tree is this Python driver plus every descendant: the Spark JVM and
the Python UDF workers it forks. ``psutil`` is not assumed to exist.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:                      # the process exited meanwhile
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a finished UDF worker's time moves into its parent's cutime)."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def python_rss_mb(root: int | None = None) -> float:
    """Summed proportional set size (PSS) of the tree's processes other
    than the JVM: the driver and the UDF workers. PSS splits pages that
    forked workers share with their parent, so a fork is not counted
    twice. The JVM is left out because its resident size follows the
    fixed driver heap setting more than the job."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:                  # the process exited meanwhile
            pass
    return total_kb / 1024


class RssPeak:
    """Samples ``python_rss_mb`` on a background thread; ``peak_mb`` is
    the largest value seen while the context is open."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, python_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, python_rss_mb())
