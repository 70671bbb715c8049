"""Host context recorded with every result, and the rule for which
results may be compared."""

from __future__ import annotations

import os
import platform


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _java_pids() -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/comm") as f:
                    if f.read().strip() == "java":
                        pids.append(int(entry))
            except OSError:
                continue
    return pids


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs: the ``steal`` column of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def snapshot(own_jvm: int | None) -> dict:
    """Load and co-tenant state at one moment."""
    return {
        "loadavg": list(os.getloadavg()),
        "other_jvms": len([p for p in _java_pids() if p != own_jvm]),
        "steal_s": _steal_s(),
    }


def context(master: str, java_version: str, seed: int, workload: str,
            seconds: int, trace: bool) -> dict:
    import pyspark

    return {
        "cpus": cpus(),
        "master": master,
        "pyspark": pyspark.__version__,
        "java": java_version,
        "python": platform.python_version(),
        "seed": seed,
        "workload": workload,
        "seconds": seconds,
        "trace": trace,
    }


def jvm_gc_s(jvm) -> float:
    """Total time the JVM's collectors have run, in seconds."""
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def comparable(a: dict, b: dict) -> str | None:
    """None when two results' contexts allow comparing their metrics,
    otherwise the reason they do not. Core count and master set the
    parallelism every timing depends on; workload, run length and
    traced-ness set what was measured."""
    for key in ("cpus", "master", "workload", "seconds", "trace"):
        if a.get(key) != b.get(key):
            return f"{key} differs: {a.get(key)!r} vs {b.get(key)!r}"
    return None
