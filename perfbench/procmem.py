"""Process-tree memory and CPU from ``/proc`` (psutil is not installed).

The tree is this Python driver, the Spark driver JVM it launched, and the
JVM's Python workers.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing paren
    head, _, rest = s.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def descendants(root: int) -> dict[int, list[str]]:
    """{pid: stat fields} of ``root`` and every process below it;
    field 0 is comm, field 2 the parent pid, 12-15 utime/stime/cutime/
    cstime in clock ticks."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[2]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_ticks(root: int) -> int:
    """CPU clock ticks (user + system, reaped children included) of
    ``root`` and every process below it."""
    return sum(
        sum(int(x) for x in st[12:16]) for st in descendants(root).values()
    )


def python_worker_cpu_ticks(root: int) -> int:
    """CPU clock ticks (user + system, reaped children included) of the
    Python processes the JVM under ``root`` started; one tick is
    1/SC_CLK_TCK seconds, the resolution ``/proc`` accounts in."""
    tree = descendants(root)
    jvms = [p for p, st in tree.items() if st[0] == "java"]
    total = 0
    for jvm in jvms:
        for pid, st in descendants(jvm).items():
            if pid != jvm and st[0].startswith("python"):
                total += sum(int(x) for x in st[12:16])
    return total


class PssSampler:
    """Samples the tree's summed PSS on one background thread and keeps
    the peak."""

    def __init__(self, root: int, interval_s: float = 0.25) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="pss-sampler", daemon=True
        )

    def sample(self) -> int:
        kb = sum(pss_kb(p) for p in descendants(self.root))
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
