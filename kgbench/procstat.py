"""Host and process-tree readings from ``/proc``.

The benchmark process (the Spark driver), its JVM and the JVM's Python
workers form one process tree rooted at the benchmark process. CPU time is
summed over the tree (children that already exited are included through
``cutime``/``cstime`` once their parent reaps them); proportional resident
memory outside the JVM heap can be sampled over the tree by a background
thread, so the peak is this run's own.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
#: seconds between memory samples
SAMPLE_INTERVAL = 0.25
#: seconds to wait for the process tree to exit before killing it
EXIT_TIMEOUT = 60.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree_pids() -> list[int]:
    pids = [os.getpid()]
    i = 0
    while i < len(pids):
        pids.extend(_children(pids[i]))
        i += 1
    return pids


def tree_cpu_s() -> float:
    """user+sys CPU-seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14..17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _pss_outside(pid: int, lo: int, hi: int) -> int:
    """Pss of ``pid``'s mappings that do not lie in ``[lo, hi)``."""
    total = 0
    inside = False
    with open(f"/proc/{pid}/smaps") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                if not inside:
                    total += int(line.split()[1]) * 1024
            elif not line[0].isupper():  # a mapping's header: "start-end perms ..."
                start, end = line.split(None, 1)[0].split("-")
                inside = lo <= int(start, 16) and int(end, 16) <= hi
    return total


def tree_pss_off_heap(jvm_pid: int, heap: tuple[int, int]) -> int:
    """Summed proportional resident memory (``Pss``) of the tree, leaving
    out the JVM's heap address range ``heap``. Plain RSS would count pages
    shared between processes once per sharer: Python workers forked from
    one daemon, and the JVM's short-lived spawn children, which show the
    whole JVM's RSS until they exec."""
    total = 0
    for pid in tree_pids():
        try:
            total += _pss_outside(pid, *heap) if pid == jvm_pid else _pss(pid)
        except OSError:
            continue
    return total


def wait_children_exit() -> list[int]:
    """Wait until this process has no descendants left; kill any still
    alive after ``EXIT_TIMEOUT`` seconds. Returns the pids that had to be
    killed."""
    deadline = time.monotonic() + EXIT_TIMEOUT
    while time.monotonic() < deadline:
        if len(tree_pids()) == 1:
            return []
        time.sleep(0.1)
    left = tree_pids()[1:]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass  # not our direct child: reaped by its own parent
    return left


def steal_s() -> float:
    """Host-wide steal CPU-seconds since boot (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def on_tmpfs(path: str) -> bool:
    """Whether ``path`` lives on a tmpfs mount (longest mount-point match)."""
    path = os.path.realpath(path)
    best, fstype = "", ""
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype == "tmpfs"


class Peak:
    """Samples ``read()`` every ``SAMPLE_INTERVAL`` seconds while active;
    ``peak`` is the largest value seen. Use as a context manager."""

    def __init__(self, read):
        self.read = read
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak = max(self.peak, self.read())

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL):
            self._sample()

    def __enter__(self) -> "Peak":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
