"""Peak resident memory of a process tree (the driver JVM and the Python
workers), sampled from /proc by a separate process.

The sampler runs outside the benchmark's interpreter so that its /proc
reads never take the interpreter lock from the crawl's driver loop,
which is driver-bound at K=1.

    python3 -m crawlbench.memory ROOT_PID INTERVAL_S

samples until its stdin closes, then prints ``[peak_bytes, peak_jvm_bytes]``.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _resident(pid: int) -> tuple[int, bool]:
    """(resident bytes, is the JVM) of one process. Python workers are
    forked from one daemon and share its pages, so theirs count as
    proportional set size (each shared page split among its sharers);
    the JVM shares next to nothing and its smaps walk is slow, so it
    counts as plain RSS."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * _PAGE, True
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024, False
    return 0, False


def tree_bytes(root: int, skip: int) -> tuple[int, int]:
    """(resident bytes of the tree under ``root``, of its JVM), without
    the process ``skip``."""
    total = jvm = 0
    for pid in [root] + descendants(root):
        if pid == skip:
            continue
        try:
            size, is_jvm = _resident(pid)
        except (OSError, IndexError, ValueError):
            continue          # the process ended between listing and reading
        total += size
        if is_jvm:
            jvm += size
    return total, jvm


class PeakRss:
    """Peak memory of this process's tree while the block runs: ``peak``
    for the whole tree, ``peak_jvm`` for the JVM."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = self.peak_jvm = 0

    def __enter__(self) -> "PeakRss":
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "crawlbench.memory", str(os.getpid()),
             str(self.interval_s)],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=30)   # closing stdin stops it
        self.peak, self.peak_jvm = json.loads(out)


def _sample(root: int, interval_s: float) -> None:
    peak = peak_jvm = 0
    while True:
        total, jvm = tree_bytes(root, skip=os.getpid())
        peak, peak_jvm = max(peak, total), max(peak_jvm, jvm)
        if select.select([sys.stdin], [], [], interval_s)[0]:
            break
    total, jvm = tree_bytes(root, skip=os.getpid())
    print(json.dumps([max(peak, total), max(peak_jvm, jvm)]))


if __name__ == "__main__":
    _sample(int(sys.argv[1]), float(sys.argv[2]))
