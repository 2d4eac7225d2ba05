"""SparkSession builder with the engine's scale-minded defaults."""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass
from typing import Mapping

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
                         ) -> tuple[str | None, int | None]:
    """(master or None, spark.sql.shuffle.partitions or None): local[N]
    and N shuffle partitions, N = ``SPARK_GRAFT_CPUS`` or else the CPUs
    this process may run on. Under spark-submit both are None unless
    given: the submitted --master and --conf decide."""
    cpus = env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    if shuffle_partitions is None and "PYSPARK_GATEWAY_PORT" not in env:
        shuffle_partitions = int(cpus)
    return _resolve_master(master, cpus, env), shuffle_partitions


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
    pre-sized (``-Xms``) to the smaller of itself and the budget, and
    not pre-touched; its young generation is fixed (``-Xmn``) at a
    quarter of that size (see ``get_spark``).
    """
    budget = (None if host_mb is None
              else min(int(host_mb * HEAP_SHARE), MAX_DEFAULT_HEAP_MB))
    heap = env.get("SPARK_GRAFT_DRIVER_MEM") or (
        "32g" if budget is None else f"{budget}m")
    xms = heap if budget is None or _mem_mb(heap) <= budget else f"{budget}m"
    return heap, f"-Xms{xms} -Xmn{int(_mem_mb(xms)) // 4}m"


# -- class-data sharing --------------------------------------------------------
#
# Every driver JVM parses the same ~10k Spark/Scala/Parquet/Arrow classes.
# A dynamic CDS archive (JDK 13+) maps them in pre-parsed: on a 4-core host
# with a 3g heap, JVM start went 9.0-10.9 s -> 4.6-6.8 s and the first job
# (range(10).count()) 4.1-5.3 s -> 2.1-2.8 s. The archive is 140-190 MB
# and its dump at JVM exit takes 15-25 s, once per host and key.

# What the last JVM launch of this process did with the archive: "used",
# "dumping" or "skipped: <reason>". None until get_spark() launches one.
cds_decision: str | None = None
# the JVM this module launched ("proc") and, while it dumps, its plan ("dump")
_launched: dict = {}
# how long the exit hook waits for the JVM; a dump takes 15-25 s
_JVM_EXIT_WAIT_S = 180
# The JVM logs CDS warnings on stdout: ~600 "Preload Warning" / "Skipping
# ... Signed JAR" lines per dump, and "Unable to use shared archive" when
# the classpath no longer matches. stdout belongs to the caller (the
# deployed job's last line is its JSON summary), so the dump is silent and
# a start from the archive reports a fall-back on stderr.
_CDS_QUIET = "-Xlog:cds*=off"
_CDS_TO_STDERR = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"


@dataclass
class _CdsPlan:
    decision: str               # "used" | "dumping" | "skipped: <reason>"
    opts: str = ""              # JVM options to add
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch
    archive: str | None = None  # used: the archive file
    cache: str = ""
    key: str = ""
    lock: int | None = None     # dumping: the fd holding the dump lock
    tmp: str = ""               # dumping: where the JVM writes the archive


def cds_cache_dir(env: Mapping[str, str]) -> str:
    """``${XDG_CACHE_HOME:-~/.cache}/schema_inference_spark/cds``; never
    under ``TMPDIR``, which a caller may delete after every run."""
    base = env.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "schema_inference_spark", "cds")


def _stat_id(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def cds_key(env: Mapping[str, str], spark_home: str, conf_dir: str) -> str:
    """What the JVM checks an archive against: the JDK (the real path of
    the ``java`` spark-class runs, and the size and mtime of its
    ``libjvm.so`` or ``release``), the Spark home, the name, size and mtime
    of every jar in it, and the conf dir on the classpath. Starts no
    process; raises OSError when a part is missing."""
    java = (os.path.join(env["JAVA_HOME"], "bin", "java")
            if env.get("JAVA_HOME")
            else shutil.which("java", path=env.get("PATH")) or "java")
    java = os.path.realpath(java)
    jdk = os.path.dirname(os.path.dirname(java))
    libjvm = os.path.join(jdk, "lib", "server", "libjvm.so")
    parts = [java, _stat_id(libjvm if os.path.exists(libjvm)
                            else os.path.join(jdk, "release")),
             spark_home, conf_dir]
    jars = os.path.join(spark_home, "jars")
    parts += [f"{n}:{_stat_id(os.path.join(jars, n))}"
              for n in sorted(os.listdir(jars))]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


def _published(cache: str, key: str) -> tuple[str, int] | None:
    """(path, published size) of the archive of ``key``: its name is
    ``<key>-<size>.jsa``."""
    for name in os.listdir(cache):
        size = name[len(key) + 1:-len(".jsa")]
        if name.startswith(key + "-") and name.endswith(".jsa") \
                and size.isdigit():
            return os.path.join(cache, name), int(size)
    return None


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except OSError:
        pass


def _plan_cds(env: Mapping[str, str]) -> _CdsPlan:
    """How the JVM about to launch uses the archive.

    A published archive of this key is used after its size is checked: a
    truncated one crashes the JVM (SIGBUS) instead of falling back, so a
    mismatch deletes it and starts plain. With no archive, the process
    that takes the dump lock dumps at JVM exit; the others start plain.
    The lock is an flock, so a dead holder's lock is free again."""
    if "PYSPARK_GATEWAY_PORT" in env:
        return _CdsPlan("skipped: under spark-submit the JVM is already up")
    try:
        spark_home = os.path.realpath(env.get("SPARK_HOME")
                                      or _find_spark_home())
        conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        real = sorted(n for n in (os.listdir(conf) if os.path.isdir(conf)
                                  else []) if not n.endswith(".template"))
        if real:
            # a non-empty directory on the classpath makes the dump fail
            return _CdsPlan(f"skipped: conf dir {conf} holds {real[0]}")
        cache = cds_cache_dir(env)
        if any(c.isspace() for c in cache):
            return _CdsPlan(f"skipped: cache path {cache!r} has whitespace")
        # kept empty: Spark reads no template, so nothing changes
        conf_dir = os.path.join(cache, "conf")
        key = cds_key(env, spark_home, conf_dir)
    except OSError as exc:
        return _CdsPlan(f"skipped: {exc}")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        lock = os.open(os.path.join(cache, key + ".lock"),
                       os.O_RDWR | os.O_CREAT | os.O_CLOEXEC, 0o600)
    except OSError as exc:
        return _CdsPlan(f"skipped: cache not writable: {exc}")
    found = _published(cache, key)
    if found is None:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(lock)
            return _CdsPlan("skipped: another process holds the dump lock")
        found = _published(cache, key)  # published while we looked?
    if found is None:
        tmp = os.path.join(cache, f"{key}.jsa.{os.getpid()}.tmp")
        return _CdsPlan("dumping", f"-XX:ArchiveClassesAtExit={tmp} "
                        + _CDS_QUIET, conf_dir, cache=cache, key=key,
                        lock=lock, tmp=tmp)
    os.close(lock)
    path, size = found
    try:
        actual = os.path.getsize(path)
    except OSError:
        actual = -1
    if actual != size:
        _remove(path)
        return _CdsPlan(f"skipped: archive is {actual} bytes, published "
                        f"{size}; deleted")
    return _CdsPlan("used", f"-XX:SharedArchiveFile={path} " + _CDS_TO_STDERR,
                    conf_dir, archive=path)


def _publish(plan: _CdsPlan, exit_code: int | None) -> None:
    """Rename a finished dump to ``<key>-<size>.jsa``, delete every other
    archive and dump in the cache, and release the dump lock. A dump that
    did not finish is deleted; the next launch dumps again."""
    try:
        size = os.path.getsize(plan.tmp) if exit_code == 0 else 0
        if size:
            keep = f"{plan.key}-{size}.jsa"
            os.replace(plan.tmp, os.path.join(plan.cache, keep))
            for name in os.listdir(plan.cache):
                if ".jsa" in name and name != keep:
                    _remove(os.path.join(plan.cache, name))
    except OSError:
        pass
    finally:
        _remove(plan.tmp)
        os.close(plan.lock)


def _end_jvm() -> None:
    """Stop Spark, close the gateway of the JVM this module launched and
    wait for that JVM, then publish what it dumped. A JVM launched from
    Python exits only on stdin EOF, so without the wait a dumping JVM
    outlives its Python process and never publishes."""
    proc, plan = _launched.pop("proc", None), _launched.pop("dump", None)
    if proc is None:
        return
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is proc:
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
    if proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()
    try:
        proc.wait(timeout=_JVM_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    if plan is not None:
        _publish(plan, proc.returncode)


def _launch(builder: SparkSession.Builder, java_opts: str,
            plan: _CdsPlan) -> SparkSession:
    """Launch the JVM with ``plan``; ``SPARK_CONF_DIR`` is set only for
    the launch, and ``os.environ`` restored after it."""
    global cds_decision
    saved = os.environ.get("SPARK_CONF_DIR")
    if plan.conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    try:
        spark = builder.config("spark.driver.extraJavaOptions",
                               f"{java_opts} {plan.opts}".strip()
                               ).getOrCreate()
    except BaseException:
        if plan.lock is not None:
            os.close(plan.lock)
        raise
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    cds_decision = plan.decision
    proc = SparkContext._gateway.proc
    if proc is not None:
        _launched["proc"] = proc
        if plan.lock is not None:
            _launched["dump"] = plan
        atexit.register(_end_jvm)
    return spark


def get_spark(app_name: str = "schema-inference-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """local[N] by default, with N shuffle partitions: N is
    ``$SPARK_GRAFT_CPUS``, or the CPUs this process may run on
    (``os.sched_getaffinity``) when that is unset; scan splits and AQE's
    advisory partition size are 16m. AQE on (coalesce + skew-join,
    SURVEY.md §2.D18); Arrow on for every pandas/Arrow UDF boundary.

    Under ``spark-submit`` (``PYSPARK_GATEWAY_PORT`` set) the submitted
    ``--master`` and the ``--conf`` values of
    ``spark.sql.shuffle.partitions``, ``spark.sql.files.maxPartitionBytes``
    and ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` stand: this
    sets none of them. An explicit ``master`` or ``shuffle_partitions``
    argument still applies.

    The driver JVM starts from a dynamic class-data-sharing archive of
    the classes every start loads, about half the JVM start and first-job
    time. The archive lives in
    ``${XDG_CACHE_HOME:-~/.cache}/schema_inference_spark/cds/`` as
    ``<key>-<size>.jsa``; the key covers the JDK (real path of ``java``,
    size and mtime of ``libjvm.so``), the Spark home, its jars (names,
    sizes, mtimes) and the conf dir. The first launch on a host (per key)
    dumps it at JVM exit, 15-25 s: an exit hook (or ``stop_spark()``)
    closes the gateway, waits for the JVM and publishes the archive by
    rename. Concurrent first launches start plain while one holds the
    dump lock. The archive is skipped, and ``cds_decision`` says why,
    when:

    - the conf dir holds a real file (the JVM refuses to dump with a
      non-empty directory on the classpath; a conf dir of ``*.template``
      files only is swapped for an empty one in the cache);
    - the cache is not writable, or another process holds the dump lock;
    - the archive's size is not the published one (deleted: a truncated
      archive crashes the JVM instead of falling back);
    - running under ``spark-submit`` (``PYSPARK_GATEWAY_PORT`` set): the
      JVM is already up, so cluster jobs get no gain from the archive.

    A start from the archive that fails anyway deletes it and retries
    plain once.
    """
    master, shuffle = _resolve_parallelism(master, shuffle_partitions,
                                           os.environ)
    driver_mem, java_opts = size_session(os.environ, host_memory_mb())
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if shuffle is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle))
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        # Local inputs are small against the 128MB split and 64MB AQE
        # advisory defaults, which starve the scan of splits (a 650MB
        # snapshot = 6 tasks regardless of cores) and coalesce CPU-heavy
        # post-shuffle stages to a handful of tasks; 16m keeps both
        # spread (measured ~10% on a warm mid-tier subset). A cluster
        # job sizes these with spark-submit --conf.
        builder = (builder
                   .config("spark.sql.files.maxPartitionBytes", "16m")
                   .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                           "16m"))
    # The heap is pre-sized but not pre-touched (-XX:+AlwaysPreTouch):
    # touching every page at start keeps the whole -Xms resident for the
    # life of the process. Measured with perfbench (4 cores, 3g heap,
    # 10 pairs each): peak RSS fell from 3,662 to 3,047 MB on
    # unclustered_drift_resume, whose row-level checks run in Python
    # workers (a traced run of them with pre-touch peaked at 3,937 MB,
    # over the benchmark's 5 % bound), and from 4,279 to 1,675 MB on
    # clustered_snapshot. Over 6 pairs with pre-touch as the only
    # difference, clustered turns_per_s moved +2.6 % (3 of 6 better) and
    # the cold call +2.8 %: inside run-to-run noise.
    # The young generation is fixed at a quarter of -Xms (-Xmn): an
    # untouched heap grows its resident set with G1's adaptive young
    # size, which follows pause times, so peak RSS varied from run to run
    # (drift JVM VmHWM 2,317-2,788 MB over 7 runs on the 3g heap). With
    # -Xmn768m it read 1,598-1,660 MB over 15 runs, drift turns_per_s
    # stayed +52 % over the pre-touched parent (10 of 10 pairs), and
    # clustered_snapshot's JVM, whose adaptive young generation stayed
    # small (906-995 MB), reads 1,453-1,561 MB at the same speed.
    # No effect under spark-submit (the JVM is already up, Spark ignores
    # driver extraJavaOptions then).
    if master is not None:
        builder = builder.master(master)
    if SparkContext._gateway is not None:  # the JVM is up: nothing launches
        return builder.config("spark.driver.extraJavaOptions",
                              java_opts).getOrCreate()
    plan = _plan_cds(os.environ)
    try:
        return _launch(builder, java_opts, plan)
    except Exception:
        if plan.decision != "used":
            raise
        _remove(plan.archive)
        return _launch(builder, java_opts, _CdsPlan(
            "skipped: the JVM failed to start from the archive; deleted"))


def stop_spark() -> None:
    """Stop the session; end a JVM that get_spark() launched and publish
    the archive it dumped."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    _end_jvm()
