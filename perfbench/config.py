"""Host settings every run uses, and the host record stored with each result.

- ``cpus()``: the Spark core count, every core the run may use, exported as
  ``SPARK_GRAFT_CPUS``;
- ``DRIVER_MEM``: the driver heap, exported as ``SPARK_GRAFT_DRIVER_MEM``.
  In local mode it is also the executor heap, so it must fit in the host;
- ``SUITE_SF``: the input scale of the two suite workloads;
- ``LAKE_FILES``: the size of ``lake_rw``'s generated file tree;
- ``CHILD_TIMEOUT_S``: a run still going after this long is stopped.
"""

from __future__ import annotations

import os
import platform
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
WORKLOADS = ("sql_analytics", "curation", "lake_rw")

DRIVER_MEM = "4g"
SUITE_SF = "sf0.01"
LAKE_FILES = 120
CHILD_TIMEOUT_S = 150.0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    return 0.0


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    # the JVM may print a "Picked up ..._OPTIONS" note before the version line
    lines = [l for l in (out.stderr or out.stdout).splitlines() if " version " in l]
    return lines[0].strip() if lines else "unknown"


def host_record(spark, suite_sf: str, lake_files: int) -> dict:
    """What must match before two results may be compared."""
    import pyspark

    return {
        "cpus": cpus(),
        "mem_total_gb": mem_total_gb(),
        "driver_mem": DRIVER_MEM,
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": java_version(),
        "suite_sf": suite_sf,
        "lake_files": lake_files,
    }
