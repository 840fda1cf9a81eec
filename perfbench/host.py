"""Host context printed with every run, so a degraded host shows next
to the numbers it skews."""

from __future__ import annotations

import os
import platform
import resource
import time


def fault_mbps(mb: int = 64) -> float:
    """First-touch page-fault bandwidth of a fresh anonymous allocation
    (MB/s).  Healthy hosts give roughly 1000-6000; double-digit values
    mean every cold allocation in the run is slow."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.empty(mb * 131072, dtype=np.int64)
    a[::512] = 1  # one write per 4 KiB page
    dt = time.perf_counter() - t0
    del a
    return round(mb / dt, 1)


def context() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "fault_mbps": fault_mbps(),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = _vm_hwm_kib(jvm_pid) if jvm_pid else 0
    return (py_kib + jvm_kib) / 1024.0
