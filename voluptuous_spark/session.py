"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache (static conf, default 100 entries, LRU).
# One clips-suite run uses ~110-150 distinct classes, so at 100 the cache
# evicted each class before its next use and every warm run recompiled
# them all (measured: a traced perfbench clips_suite run, 800 clips,
# made 1146 Janino compiles; two runs over a 400-clip table 108, then
# 110). At 1000 the traced run makes 376 and the second 400-clip run 0.
CODEGEN_CACHE_ENTRIES = 1000


def _host_memory_mb() -> int:
    """The cgroup memory limit when one is set, else MemTotal."""
    with open("/proc/meminfo") as f:
        total = next(int(line.split()[1]) // 1024 for line in f
                     if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw) // (1 << 20))
        break
    return total


def _to_mb(size: str) -> int:
    """JVM size string ('6g', '1920m', '512k', bare bytes) in MB."""
    size = size.strip().lower().rstrip("b")
    mult = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1 << 20}
    if size and size[-1] in mult:
        return int(float(size[:-1]) * mult[size[-1]])
    return int(size) >> 20


def memory_plan(
    total_mb: int, driver: str | None = None, offheap: str | None = None
) -> tuple[str, str, bool]:
    """(driver heap, off-heap size, pre-touch) for a host with
    ``total_mb`` of memory. Heap is 45% of it and off-heap 20%, capped at
    the 24g/16g these defaults were tuned with; explicit ``driver`` /
    ``offheap`` sizes (SPARK_DRIVER_MEMORY / SPARK_OFFHEAP_MEMORY) win.
    The heap is pre-touched only when it is at most a quarter of the
    host's memory, so a pre-faulted heap never crowds out the rest."""
    driver = driver or f"{min(24 << 10, total_mb * 45 // 100)}m"
    offheap = offheap or f"{min(16 << 10, total_mb // 5)}m"
    return driver, offheap, _to_mb(driver) <= total_mb // 4


def get_spark(
    app_name: str = "voluptuous_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults chosen for the validation workload:
    - AQE on (runtime shuffle coalescing + skew-join splitting — the codec
      column is intentionally skewed, FIXTURES.md F1);
    - Arrow enabled for the pandas-UDF PCM validators, with a bounded batch
      size so binary audio payloads don't blow executor memory;
    - shuffle partitions sized to cores locally (cluster deployments
      override via spark.sql.shuffle.partitions / AQE coalescing).
    """
    master = master or os.environ.get("SPARK_MASTER", None)
    driver_mem, offheap_mem, pretouch = memory_plan(
        _host_memory_mb(),
        os.environ.get("SPARK_DRIVER_MEMORY"),
        os.environ.get("SPARK_OFFHEAP_MEMORY"),
    )
    # Xms=Xmx + AlwaysPreTouch pre-faults the heap once (see below)
    heap_opts = (f"-Xms{driver_mem} -XX:G1HeapRegionSize=32m"
                 " -XX:+AlwaysPreTouch" if pretouch
                 else "-XX:G1HeapRegionSize=32m")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    elif not SparkSession.getActiveSession():
        b = b.master(f"local[{cpus}]")
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow batches sized for ~25-60KB audio payloads (~4-8MB/batch).
        # Large batches (default 10000 rows) create 100MB+ JVM<->Python
        # round-trips that stall the pipeline at high task concurrency —
        # measured 22s -> 2.3s on an 80k-clip PCM pass at local[32].
        "spark.sql.execution.arrow.maxRecordsPerBatch": "128",
        # smaller splits keep per-task Arrow streams short for wide binary
        # rows; at cluster scale tune with row-group size instead
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # PySpark 4 wraps EVERY Column/DataFrame API call with call-site
        # capture for error context: a Python stack walk plus THREE extra
        # py4j round trips per call (conf.get + origin set/clear). The
        # compiled validators issue thousands of Column calls per schema;
        # measured ~40% of plan-construction wall time on the flagship
        # query. Error paths still raise typed exceptions — only the
        # "user line number" decoration is lost.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # The engine performs its own common-subexpression elimination
        # (each field's error CASE chain is computed once as a hidden
        # stage-1 column); Spark's codegen-level CSE adds nothing here,
        # measured slightly slower on every heavy validate query, and its
        # generated code hits a Janino compile bug ("isNull_N is not an
        # rvalue") on ExactSequence/Unordered element checks, forcing
        # those stages into interpreted fallback
        "spark.sql.subexpressionElimination.enabled": "false",
        # InferFiltersFromGenerate copies the ENTIRE violations-array
        # expression (every field's error CASE chain) into a
        # Filter(size(__errors) > 0) below the explode. The generate
        # input is always a computed array here — never a source column —
        # so the inferred filter cannot push down to the scan; it only
        # re-evaluates the whole chain a second time, and its generated
        # code trips the same Janino bug ("isNull_N is not an rvalue"),
        # dropping the stage to interpreted mode. Excluding the rule is
        # both the codegen fix and a ~2x saving on the violations path.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        # local mode: the driver heap IS the executor heap; 32 concurrent
        # tasks each buffering multi-MB audio batches need real headroom
        # (8g produced GCLocker allocation stalls at local[32])
        "spark.driver.memory": driver_mem,
        # Binary-column scans: the vectorized reader's default 4096-row
        # columnar batch over 30-300KB audio payloads is a 100MB+ on-heap
        # array — a G1 "humongous" allocation at any region size. At 32
        # concurrent tasks these storm the allocator (measured: full-table
        # scan 5.5s at local[8] vs 77.6s at local[32]). 64-row batches
        # (~2-18MB depending on clip length) + 32MB G1 regions keep every
        # batch a regular allocation (measured on 85KB-avg clips: warm scan
        # 2.3s at 512 rows vs 1.8s at 64, and 5x less first-run jitter).
        # Xms=Xmx + AlwaysPreTouch pre-faults the heap once — this VM's
        # kernel page-fault path is expensive (sys time 6x user time
        # measured), so faulting pages at allocation time serializes the
        # executors. Only when the heap is small next to the host's
        # memory (``memory_plan``): a 24g pre-touched heap aborts the JVM
        # on a 15 GB host.
        "spark.sql.parquet.columnarReaderBatchSize": "64",
        # Off-heap column vectors: binary audio batches are decoded into
        # unsafe memory instead of byte[] churn in the G1 young gen —
        # measured: the same warm scan is 2-4x steadier run-to-run and
        # first-run cost drops ~2x at local[32]. On a real cluster this is
        # the standard config for scan-heavy executors.
        "spark.sql.columnVector.offheap.enabled": "true",
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": offheap_mem,
        "spark.driver.extraJavaOptions": heap_opts,
        # cluster deployments: the same flags go on the executors
        "spark.executor.extraJavaOptions":
            "-XX:G1HeapRegionSize=32m -XX:+AlwaysPreTouch",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
