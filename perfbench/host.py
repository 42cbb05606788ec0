"""Host fingerprint, per-box CPU sentinel and process memory readings.

The sentinel is a fixed single-threaded hash loop timed at run start and
end.  It is reported beside the run's numbers, as a ratio to the reading
calibrated on the box named in ``CALIBRATION``, and is never used to
adjust any number.  On another box the ratio is left out: a reference
taken elsewhere says nothing about this box (an 8-core and a 32-core
record compared against each other read as regressions).
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time

# Calibrated with ``python3 perfbench/host.py`` on a 4-core Intel Xeon
# VM with 15.7 GB of RAM, between benchmark runs: the median of 15 readings.
CALIBRATION = {
    "fingerprint": {"nproc": 4, "cpu_model": "Intel(R) Xeon(R) Processor"},
    "sentinel_s": 0.0342,
}

SENTINEL_BYTES = 32 * 1024 * 1024


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _mem_total_mb() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 0


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30)
        return (out.stderr or out.stdout).splitlines()[0].strip()
    except (OSError, subprocess.SubprocessError, IndexError):
        return "unknown"


def fingerprint() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpu_model": _cpu_model(),
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def sentinel_s(repeats: int = 3) -> float:
    """Best of ``repeats`` timings of sha256 over a fixed 32 MiB buffer."""
    buf = bytes(range(256)) * (SENTINEL_BYTES // 256)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, time.perf_counter() - t0)
    return best


def sentinel_ratio(reading: float, fp: dict) -> float | None:
    """Reading over the calibrated reference, or None on another box."""
    if any(fp.get(k) != v for k, v in CALIBRATION["fingerprint"].items()):
        return None
    return reading / CALIBRATION["sentinel_s"]


def process_age_s() -> float | None:
    """Seconds since this process started, from the kernel's start time
    (clock-tick resolution), or None where /proc cannot tell."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
        return time.clock_gettime(time.CLOCK_BOOTTIME) - started
    except (OSError, ValueError, IndexError, AttributeError):
        return None


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def write_bytes_mb(pid: int | str) -> float:
    """Bytes a process caused to be written to storage, in MiB."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1]) / (1024.0 * 1024.0)
    except OSError:
        pass
    return 0.0


if __name__ == "__main__":
    import json
    import statistics

    readings = [sentinel_s() for _ in range(15)]
    print(json.dumps({"fingerprint": fingerprint(), "sentinel_s": statistics.median(readings),
                      "readings": readings}))
