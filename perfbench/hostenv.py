"""Host-fitted Spark environment and the host fingerprint.

``voluptuous_spark.session`` defaults to a 24 GB pre-touched driver heap
and 16 GB off-heap, which aborts the JVM on smaller hosts. The benchmark
sizes both from MemTotal through the package's own
``SPARK_DRIVER_MEMORY`` / ``SPARK_OFFHEAP_MEMORY`` overrides, pins the
core count, and keeps every scratch file (Spark local dirs, Python and
JVM temp files) under the benchmark's work directory.
"""

from __future__ import annotations

import os
import platform


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def memory_settings(total_mb: int) -> tuple[int, int]:
    """(heap_mb, offheap_mb): heap is 1/8 of RAM within [1 GB, 4 GB],
    off-heap half the heap. The package pre-touches the whole heap at JVM
    start, so it is resident for the whole run; at 1 GB the clips suite
    runs ~1.5x slower in GC."""
    heap = min(4096, max(1024, total_mb // 8))
    return heap, heap // 2


def configure(root: str, work: str) -> dict:
    """Export the environment ``get_spark`` and its Python workers read.
    Must run before pyspark launches the JVM. Returns the settings."""
    heap, offheap = memory_settings(mem_total_mb())
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_DRIVER_MEMORY": f"{heap}m",
        "SPARK_OFFHEAP_MEMORY": f"{offheap}m",
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": local,
        # Python workers import voluptuous_spark (its pandas/Arrow UDFs)
        "PYTHONPATH": root if not pp else f"{root}{os.pathsep}{pp}",
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return env


def fingerprint(spark, env: dict) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "spark": spark.version,
        "jvm": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "offheap_memory": env["SPARK_OFFHEAP_MEMORY"],
        "cpus": env["SPARK_GRAFT_CPUS"],
    }
