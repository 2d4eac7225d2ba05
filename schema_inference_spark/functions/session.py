"""SparkSession builder with the engine's scale-minded defaults."""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import SparkSession

# Share of the host's available memory the default driver heap takes. The
# rest holds the JVM's off-heap use, the Python workers of the native
# split reader (one per core) and the driver's own Python process.
HEAP_SHARE = 0.4
# today's ceiling: a bigger host still gets a 32g default heap, no more
MAX_DEFAULT_HEAP_MB = 32 * 1024

_UNITS = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _resolve_master(explicit: str | None, cpus: str,
                    env: "os._Environ[str] | dict[str, str]") -> str | None:
    """Pick the master to force on the builder, or None to defer.

    Under spark-submit the JVM gateway already exists and carries the
    submitted conf (--master, --conf ...); setting .master() here would
    silently override the cluster. PYSPARK_GATEWAY_PORT is how the
    PythonRunner child finds that JVM, so its presence means "defer to
    the submitted master" unless the caller forces one explicitly.
    """
    if explicit is not None:
        return explicit
    if "PYSPARK_GATEWAY_PORT" in env:
        return None
    return f"local[{cpus}]"


def _resolve_parallelism(master: str | None,
                         shuffle_partitions: int | None,
                         env: "os._Environ[str] | dict[str, str]",
                         ) -> tuple[str | None, int]:
    """(master or None, spark.sql.shuffle.partitions): local[N] and N
    shuffle partitions, N = ``SPARK_GRAFT_CPUS`` or else the CPUs this
    process may run on."""
    cpus = env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    return (_resolve_master(master, cpus, env),
            shuffle_partitions if shuffle_partitions is not None
            else int(cpus))


def _mem_mb(size: str) -> float:
    """JVM size string ('3g', '512m', '1048576') -> MiB."""
    s = size.strip().lower()
    if s and s[-1] in _UNITS:
        return float(s[:-1]) * _UNITS[s[-1]]
    return float(s) / (1024 * 1024)


def host_memory_mb() -> int | None:
    """Memory this process may still use, in MiB: the smaller of
    ``MemAvailable`` and the cgroup limit (v2 or v1). None when neither
    can be read."""
    found = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    found.append(int(line.split()[1]) // 1024)
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < 1 << 60:  # "max" / 2^63: no limit
            found.append(int(raw) // (1024 * 1024))
    return min(found) if found else None


def size_session(env: Mapping[str, str],
                 host_mb: int | None) -> tuple[str, str]:
    """(spark.driver.memory, driver extraJavaOptions) for a host
    with ``host_mb`` MiB available (None: unknown).

    The default heap is ``HEAP_SHARE`` of the host, capped at 32g. An
    explicit ``SPARK_GRAFT_DRIVER_MEM`` is used as given. The heap is
    pre-sized (``-Xms``) and pre-touched when it fits in the same budget;
    otherwise ``-Xms`` is clamped to the budget and nothing is
    pre-touched: a heap the host cannot back makes the JVM die at start
    under ``-XX:+AlwaysPreTouch``.
    """
    budget = (None if host_mb is None
              else min(int(host_mb * HEAP_SHARE), MAX_DEFAULT_HEAP_MB))
    heap = env.get("SPARK_GRAFT_DRIVER_MEM") or (
        "32g" if budget is None else f"{budget}m")
    if budget is None or _mem_mb(heap) <= budget:
        return heap, f"-Xms{heap} -XX:+AlwaysPreTouch"
    return heap, f"-Xms{budget}m"


def get_spark(app_name: str = "schema-inference-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[N] by default, with N shuffle partitions: N is
    ``$SPARK_GRAFT_CPUS``, or the CPUs this process may run on
    (``os.sched_getaffinity``) when that is unset. AQE on (coalesce +
    skew-join, SURVEY.md §2.D18); Arrow on for every pandas/Arrow UDF
    boundary.
    """
    master, shuffle = _resolve_parallelism(master, shuffle_partitions,
                                           os.environ)
    # local-mode inputs are small relative to the 128MB default, which
    # starves the scan of splits (a 650MB snapshot = 6 tasks regardless
    # of cores); 16MB keeps local scans parallel, prod clusters keep the
    # default
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")
    driver_mem, java_opts = size_session(os.environ, host_memory_mb())
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.files.maxPartitionBytes", mpb)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # local analog of the 16m scan-split note above: AQE's 64MB
        # advisory target coalesces the CPU-heavy post-shuffle stages
        # (JSON parse, regex, digest folds) of MB-sized local inputs
        # down to a handful of tasks; 16m keeps them spread (measured
        # ~10% on a warm mid-tier subset, and removes whole-stage
        # serialization cliffs). Prod clusters override via env to the
        # guide's 100MB-1GB sizing (§2.2).
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "16m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Pre-size and PRE-TOUCH the heap at JVM start (once per process,
    # before any query runs) instead of letting every big first
    # execution page-fault its working set in: a cold 100M-group
    # aggregation measured 42.6s against 18.2s with a pre-touched heap
    # (the first touch of ~20GB of heap pages IS the difference — -Xms
    # alone, without AlwaysPreTouch, changed nothing). A long-lived
    # cluster executor pays this once at executor launch and never per
    # query, which is exactly what the flag reproduces locally (guide
    # §5: memory behavior belongs to process lifecycle, not to the
    # queries that happen to run first). size_session() pre-touches only
    # a heap the host can back. No effect under spark-submit (the JVM is
    # already up, Spark ignores driver extraJavaOptions then).
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    if master is not None:
        builder = builder.master(master)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
