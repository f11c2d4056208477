"""Host facts recorded with every run, and peak memory read from /proc."""

from __future__ import annotations

import platform
import subprocess


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [ln for ln in (out.stderr + out.stdout).splitlines() if "version" in ln]
    return lines[0] if lines else "unknown"


def facts(cores: int) -> dict:
    import pyspark

    return {
        "nproc": cores,
        "loadavg_start": loadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory, in MB, of this Python process and of the Spark JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return {"python": _vm_hwm_kb("self") / 1024, "jvm": _vm_hwm_kb(jvm_pid) / 1024}
