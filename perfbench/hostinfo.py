"""Host-side probes: CPU steal, memory of the Spark processes, versions
and source identity for the result record.  Linux ``/proc`` only;
every probe degrades to ``None``/``0`` where ``/proc`` is unreadable."""

from __future__ import annotations

import gc
import hashlib
import os
import subprocess
import sys
import threading
import time

from py4j.protocol import Py4JError


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat.

    Same protocol as the repository's ``bench.timed``: steal is the
    hypervisor's share of all CPU jiffies over an interval."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError):
        return 0, 0


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float | None:
    dj = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / dj if dj > 0 else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 is the parent pid; the command name (field 2) may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def python_workers() -> list[int]:
    """The PySpark daemon and its Python workers: descendants of this
    process running Python (the Spark JVM is excluded)."""
    return [p for p in descendants(os.getpid()) if _comm(p).startswith("python")]


def spark_processes() -> list[int]:
    """The Spark JVM plus the Python workers.  Short-lived helpers the JVM
    forks (Hadoop's shell commands) are left out: between fork and exec
    they report the JVM's own resident pages."""
    return [p for p in descendants(os.getpid())
            if _comm(p) == "java" or _comm(p).startswith("python")]


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def proc_cpu_s(pids: list[int]) -> float:
    """Summed user+system CPU seconds of ``pids`` (live processes only)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            continue
    return total / tick


class MemorySampler:
    """Memory of the Spark processes: the JVM heap the program still holds
    after its timed passes, the JVM's peak off-heap use, and the peak
    resident memory of the PySpark daemon and its Python workers.

    The JVM's resident size is not used, nor the heap in use at its peak:
    both follow how far G1 chose to grow the heap (up to ``-Xmx``), which
    depends on how busy the host is more than on what the program keeps.
    ``settle`` (called after the last timed pass, outside the timed
    regions) instead runs full GCs until the heap in use stops falling:
    Spark releases the blocks, broadcasts and shuffle state of dropped
    DataFrames only after a GC, asynchronously and a chain at a time, so a
    single GC reads anything between the settled value and twice it.  What
    is left is what the program keeps: pinned and cached blocks, driver-side
    state, anything that leaks from pass to pass.  A background thread
    samples the JVM's non-heap (metaspace, code cache) and direct-buffer
    use, the Python processes' summed resident memory every ``interval_s``
    and each Python process's own high-water mark (``VmHWM``); it also
    records the sampled peak of the heap in use, garbage included, for the
    result record only.
    """

    def __init__(self, spark, interval_s: float = 0.2):
        mgmt = spark._jvm.java.lang.management.ManagementFactory
        self._mem = mgmt.getMemoryMXBean()
        self._buffers = list(mgmt.getPlatformMXBeans(
            spark._jvm.java.lang.management.BufferPoolMXBean._java_lang_class))
        self.interval_s = interval_s
        self.py_peak_kb = 0
        self._py_hwm: dict[int, int] = {}
        self.offheap_peak = 0
        self.heap_sampled_peak = 0
        self.settled: list[int] = []    # heap in use after each full GC of settle()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)

    def _heap_used(self) -> int:
        return self._mem.getHeapMemoryUsage().getUsed()

    def sample(self) -> None:
        pids = python_workers()
        now = sum(_status_kb(p, "VmRSS:") for p in pids)
        for p in pids:
            self._py_hwm[p] = max(self._py_hwm.get(p, 0), _status_kb(p, "VmHWM:"))
        self.py_peak_kb = max(self.py_peak_kb, now)
        self.heap_sampled_peak = max(self.heap_sampled_peak, self._heap_used())
        offheap = (self._mem.getNonHeapMemoryUsage().getUsed()
                   + sum(b.getMemoryUsed() for b in self._buffers))
        self.offheap_peak = max(self.offheap_peak, offheap)

    def settle(self) -> None:
        """Full GCs 0.2 s apart until four readings in a row agree within
        1 MiB (at most 24 GCs).  The cleaning pauses between chains for up
        to ~0.5 s (two or three readings), so three agreeing readings can
        still be a plateau."""
        gc.collect()    # dead DataFrame proxies release their JVM objects
        self.sample()
        for _ in range(24):
            self._mem.gc()
            self.settled.append(self._heap_used())
            last = self.settled[-4:]
            if len(last) == 4 and max(last) - min(last) <= 2**20:
                return
            time.sleep(0.2)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            try:
                self.sample()
            except Py4JError:  # the gateway closes at shutdown; the last sample stands
                return

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def python_mb(self) -> float:
        # one worker's own high-water mark can exceed any sampled sum
        return max(self.py_peak_kb, max(self._py_hwm.values(), default=0)) / 1024.0

    @property
    def heap_mb(self) -> float:
        return self.settled[-1] / 2**20

    @property
    def peak_mb(self) -> float:
        return self.heap_mb + self.offheap_peak / 2**20 + self.python_mb

    def record(self) -> dict:
        return {"heap_settled_mb": self.heap_mb,
                "heap_settle_trail_mb": [b / 2**20 for b in self.settled],
                "jvm_offheap_peak_mb": self.offheap_peak / 2**20,
                "python_peak_mb": self.python_mb,
                "heap_sampled_peak_mb": self.heap_sampled_peak / 2**20,
                "jvm_vmhwm_mb": max((_status_kb(p, "VmHWM:") for p in spark_processes()
                                     if _comm(p) == "java"), default=0) / 1024.0}


def source_sha(root: str, package: str = "logshipper_spark") -> str:
    """sha256 over the library's Python sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for d, _dirs, files in sorted(os.walk(base)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD of ``root`` when it is itself a git checkout, else None."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def timed(fn) -> tuple[float, float | None]:
    """(wall_s, steal_pct) of one call."""
    j0 = cpu_jiffies()
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return wall, steal_pct(j0, cpu_jiffies())
