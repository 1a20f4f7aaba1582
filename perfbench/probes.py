"""Host-side measurements the workloads share: tree sizes, storage-layer
write counters, peak resident memory."""

from __future__ import annotations

import gc
import os


def tree_bytes(root: str) -> int:
    """Bytes of the regular files under ``root`` (0 if absent)."""
    total = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except FileNotFoundError:
                continue  # removed by a concurrent commit while walking
    return total


class DriverProcesses:
    """This Python driver and its JVM child: peak RSS since the last
    ``reset_peak()`` (VmHWM, reset through ``/proc/<pid>/clear_refs``) and
    bytes written to storage (``write_bytes`` of ``/proc/<pid>/io``: table,
    checkpoint, shuffle and spill files alike)."""

    def __init__(self, spark) -> None:
        self.jvm = spark._jvm
        self.pids = [os.getpid(), int(self.jvm.java.lang.ProcessHandle.current().pid())]

    def _field(self, name: str, key: str) -> int:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/{name}") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith(key))
        return total

    def reset_peak(self) -> None:
        """Collect garbage on both sides first, so the peak starts from the
        live heap rather than from whatever set-up left uncollected."""
        gc.collect()
        self.jvm.java.lang.System.gc()
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_rss_mb(self) -> float:
        return self._field("status", "VmHWM:") / 1024.0

    def bytes_written(self) -> int:
        return self._field("io", "write_bytes:")
