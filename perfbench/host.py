"""Host diagnostics and JVM-side counters.

The canaries are fixed pieces of work timed at the start and at the
end of every run, reported beside ``nproc``, the Spark master and the
share of CPU time stolen by the hypervisor during the timed loop, so a
loaded host can be recognized afterwards. They are diagnostics only:
nothing normalizes or discards a run by them.
"""

from __future__ import annotations

import hashlib
import os
import time


def cpu_canary() -> float:
    """Fixed pure-CPU work in this Python process (no Spark)."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def io_canary(scratch: str) -> float:
    """Fixed 32 MiB write + fsync + read + delete under the run's scratch."""
    path = os.path.join(scratch, "io_canary.bin")
    block = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as fh:
        for _ in range(32):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    with open(path, "rb") as fh:
        while fh.read(1 << 20):
            pass
    os.remove(path)
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat;
    (0, 0) where unreadable."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def steal_share(j0: tuple[int, int], j1: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this guest between
    two ``cpu_jiffies`` readings."""
    total = j1[1] - j0[1]
    return (j1[0] - j0[0]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process in MB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def fs_bytes(spark) -> tuple[int, int]:
    """(bytes written, bytes read) through Hadoop's ``file`` scheme in
    this JVM since it started. Counts every byte the FileSystem layer
    writes, including temp trees later renamed or deleted."""
    st = spark._jvm.org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics().get("file")
    if st is None:
        return 0, 0
    return int(st.getLong("bytesWritten")), int(st.getLong("bytesRead"))


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes on disk, parquet data files) under ``root``."""
    total, files = 0, 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
            if f.endswith(".parquet"):
                files += 1
    return total, files
