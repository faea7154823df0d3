"""CPU and memory of a process tree, read from ``/proc``.

The tree is a root process and every live descendant: for the benchmark,
the driver Python process, the JVM it launches and the Python daemon and
workers the JVM forks. CPU is ``utime + stime`` of each live member plus
``cutime + cstime``, which holds the time of children the member has already
reaped, so a worker that exits between two readings is still counted.
Memory is the proportional set size (``Pss`` in ``smaps_rollup``): a page
shared by several members, such as the copy-on-write pages of forked Python
workers, is split between them instead of counted once per member. A
background thread samples it; the peak is the largest tree-wide sum seen
since the last reset, including a sample taken when the peak is read.

Reading ``Pss`` walks the page tables: one sample of the tree during a run
costs about 50 ms of CPU, 25 ms of it for the JVM's. Every CPU second the
sampler spends counts in the tree's CPU and competes with the work, so the
default interval is half a second (about a tenth of one core); memory that
is held across a stage, such as the JVM heap and the Python workers' Arrow
buffers, is seen at that rate.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited since the directory listing
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
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


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the tree, summed over its live members."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) << 10  # kB
                        break
        except OSError:  # exited since the listing
            pass
    return total


class TreeMeter:
    """Samples the memory of this process's tree every ``interval`` seconds
    on a background thread. Use as a context manager; ``peak_pss_bytes`` is
    the largest proportional set size since the last ``reset_peak``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def __enter__(self) -> "TreeMeter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _sample(self) -> None:
        while True:
            self._fold(tree_pss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def _fold(self, pss: int) -> None:
        with self._lock:
            self._peak = max(self._peak, pss)

    def cpu_s(self) -> float:
        return tree_cpu_s(os.getpid())

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = tree_pss_bytes(os.getpid())

    @property
    def peak_pss_bytes(self) -> int:
        self._fold(tree_pss_bytes(os.getpid()))
        with self._lock:
            return self._peak
