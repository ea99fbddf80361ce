"""Outside-in counters: they observe the package from the process, the
JVM and the filesystem, and need no hook in the package."""

from __future__ import annotations

import os


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    """The JVM that PySpark launched: a ``java`` descendant of this process."""
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo += _children(pid)
    return None


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident set (VmHWM) of this process plus the JVM's."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm is not None:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024.0


class Jvm:
    """GC time, heap peak and Spark job count, read over py4j."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        mf = self._sc._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def gc_s(self) -> float:
        return sum(max(0, g.getCollectionTime()) for g in self._gcs) / 1000.0

    def reset_heap_peak(self) -> None:
        for p in self._heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap) / 2**20

    def spark_jobs(self) -> int:
        """Jobs submitted so far: job ids are sequential from 0."""
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0


def tree_bytes_files(root: str) -> tuple[int, int]:
    """Total bytes of every file under ``root`` (data, checksums,
    manifest, event log) and the number of parquet data files."""
    nbytes = nfiles = 0
    for dirpath, dirnames, filenames in os.walk(root):
        for n in filenames:
            nbytes += os.path.getsize(os.path.join(dirpath, n))
            nfiles += n.endswith(".parquet") and not n.startswith(".")
    return nbytes, nfiles


def listing(root: str) -> dict[str, int]:
    """Relative path → size of every data file under ``root``."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for n in filenames:
            if not n.startswith(("_", ".")):
                p = os.path.join(dirpath, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out
