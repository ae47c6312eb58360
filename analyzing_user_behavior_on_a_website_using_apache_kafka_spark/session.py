"""SparkSession construction.

One tuned builder for every entry point (tests, bench, driver verify):

- AQE on: shuffle widths are coalesced and skewed joins split from the
  map outputs a stage actually wrote.
- shuffle.partitions is the local core count.
- Arrow enabled: every Pandas-UDF / toPandas boundary is vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- PySpark's per-call call-site capture off: building a plan makes
  thousands of DataFrame/Column calls, and each one otherwise pays
  extra JVM round trips. An error keeps its class and message but no
  longer names the Python line in its DataFrame query context.
- A codegen cache that holds a long-lived session's working set of
  generated classes (``CODEGEN_CACHE_ENTRIES``). One ``query_mix`` pass
  needs ~345 distinct classes. Spark's default cache of 100 entries
  evicts them within the pass, so each warm pass would compile ~390
  classes again: the compile time, and a JIT that starts again from the
  interpreter on every new class. :func:`codegen_compilations` reads
  the JVM's compile count.

A new driver JVM maps a class-data-sharing archive kept in the checkout
(``CDS_DIR``), which the first launch records: start-up is ~45% shorter.
A JVM that crashes on the archive writes its ``hs_err_pid<N>.log`` into
``CDS_DIR``, never the caller's working directory, and the relaunch
removes it with the archive.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import uuid

import pyspark
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)
# A quarter of the host's memory (the JVM's own default max-heap share):
# a heap the JVM may grow into ends up resident, and two driver JVMs (a
# test session and a plan generator) must fit side by side.
DEFAULT_DRIVER_MEM = (
    f"{os.sysconf('SC_PAGE_SIZE') * os.sysconf('SC_PHYS_PAGES') // 2**22}m"
)

# Generated classes the JVM-wide codegen cache keeps (Spark's default is
# 100). Classes compiled in one session: 345 in a cold `query_mix` pass
# (perfbench data, seed 1, 4 cores), after which its warm passes compile
# 8, 0, 0 with this cache; 1,554 for all 150 queries with an unbounded
# cache (tools/check_oracle.py, sf0.01). 2,000 holds both, `query_mix`
# with ~5.8x headroom.
CODEGEN_CACHE_ENTRIES = 2000


def _tuned_builder(app_name: str, cpus: int) -> SparkSession.Builder:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Shuffle-width knob, measured BOTH ways at the replica scales
        # (SCALE.md §Round-5 measured artifacts): at the 1000× replica
        # (100 M events) the static 32-partition window sort spills and
        # goes superlinear (75 s, exponent 1.77/decade) — 256 initial
        # partitions restore ~22 s (3.3×); but on the KB–MB sf0.1
        # fixtures the extra map outputs + AQE stage re-optimization
        # cost a uniform ~1.4× on the 14-query headline. So the LOCAL
        # default stays partitions=cores, and big-data contexts opt in
        # via this env var (scale_probe sets it for its ≥100× runs). On
        # a real cluster: always set high; AQE only coalesces DOWN.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet has shipped as TIMESTAMP(NANOS) (rejected by the
        # vectorized reader -> read as int64 ns) and as timestamp[us]
        # isAdjustedToUTC=false (inferred NTZ, rejected by withWatermark);
        # both confs below plus catalog.normalize keep either shape read
        # as plain TIMESTAMP
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # The fixtures are single ~1-100 MB files; the 128 MB default
        # gives every scan ONE task on local[32]. 4 MB splits keep all
        # cores busy (measured ~2x on scan-bound queries). LOCAL-RIG
        # value: on a cluster use 128-512 MB (SCALE.md §Scans) via this
        # env var.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        # r16 (guide §6): openCostInBytes is the bin-packing charge per
        # file — the 4 MB default models object-store open latency and,
        # combined with the 4 MB local maxPartitionBytes above, packs
        # exactly ONE file per scan task, so a 5,000-file source (the
        # binaryFile round-trip) ran 5,000 tasks (~4 s of pure
        # scheduling). 64 KB reflects a local-fs open (µs) and packs
        # ~60 small files per task (measured: binaryFile read+md5
        # 4.1 s → 0.7-1.9 s, 5000 → 79 tasks). LOCAL-RIG value like
        # maxPartitionBytes: on a cluster reading object storage keep
        # the 4 MB default (or size to measured open latency) via the
        # env var.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "65536"),
        )
        # r16 (guide §6): file-listing jobs for many-directory sources
        # default to one task per path (up to 10,000) — on local[32]
        # the 5,000-dir binaryFile tree spent ~10 s scheduling 5,000
        # listing tasks that each stat one directory. 64 tasks of ~80
        # dirs each list the same tree in ~1 s. On a real cluster with
        # remote storage, raise via env (listing is latency-bound there
        # and wants the width).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            os.environ.get("SPARK_GRAFT_LIST_PARALLELISM", "64"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or DEFAULT_DRIVER_MEM,
        )
        .config("spark.ui.enabled", "false")
        # call-site capture (module docstring): PySpark reads this once
        # per process, at the first DataFrame/Column call with a session
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # codegen cache (module docstring): a static conf, read once per
        # JVM, so it only takes effect on the launch that starts the JVM
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        # bucketed saveAsTable targets (co-located join tests) land in /tmp
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/aub_warehouse"),
        )
    )


def get_spark(
    app_name: str = "analyzing_user_behavior_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode is one JVM; ``spark.driver.memory`` is the only memory knob.
    On a cluster the same conf set is valid — AQE and the serializer/Arrow
    settings are scale-independent.

    A new driver JVM starts on the checkout's class-data-sharing archive
    (:func:`cds_plan`); a launch that fails with it retries once without.
    """
    cpus = cpus or DEFAULT_CPUS
    extra_conf = extra_conf or {}
    mode, path = "off", ""
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        mode, path = cds_plan(CDS_DIR, extra_conf)
    try:
        spark = _launch(app_name, cpus, extra_conf, mode, path)
    except PySparkRuntimeError as e:
        if mode == "off" or e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        if mode == "recording":
            _unlink(_lock_path(path))
        spark = _launch(app_name, cpus, extra_conf, "off", "")
        if mode == "mapped":
            _unlink(path)  # a plain start worked: the archive stopped the JVM
        for log in glob.glob(_crash_log(path).replace("%p", "*")):
            _unlink(log)
        mode = "off"
    if mode == "recording":
        # The lock now names the JVM, which writes the archive at its exit,
        # possibly after this process has gone.
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        _write_owner(_lock_path(path), pid)
    elif mode == "mapped" and cds_mode(spark)[0] != "mapped":
        _unlink(path)  # the JVM rejected it: the next launch records anew
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """How many generated classes the session's JVM has compiled so far
    (Spark's ``CodegenMetrics`` compilation-time histogram count). The
    difference around a call is the number of classes that call
    compiled: 0 on a warm re-run whose classes are still in the cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def _launch(
    app_name: str, cpus: int, extra_conf: dict[str, str], mode: str, path: str
) -> SparkSession:
    builder = _tuned_builder(app_name, cpus)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    if mode == "off":
        return builder.getOrCreate()
    flag = "SharedArchiveFile" if mode == "mapped" else "ArchiveClassesAtExit"
    # Recording prints ~650 "[warning][cds] Skipping ...: Signed JAR" lines
    # to the JVM's stdout; a rejected archive falls back to a plain start.
    opts = (
        f"-XX:{flag}={path} -XX:ErrorFile={_crash_log(path)} -Xlog:cds*=off"
    )
    own = extra_conf.get("spark.driver.defaultJavaOptions")
    builder = builder.config(
        "spark.driver.defaultJavaOptions", f"{opts} {own}" if own else opts
    )
    with _conf_dir(os.path.join(os.path.dirname(path), "conf")):
        return builder.getOrCreate()


# -- class-data sharing (JEP 350) ------------------------------------------
# A driver JVM that maps a dynamic archive of the classes an earlier launch
# loaded starts ~45% faster (get_spark 7.4 -> 4.0 s, first action 4.5 ->
# 2.1 s on 4 cores). The first launch per key records the archive at its
# exit (~140 MB, ~12 s of dumping); later launches map it. It is kept in
# the checkout, never in a temp dir, and removing the directory resets it.
CDS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".spark_graft_cache",
    "cds",
)
# HotSpot writes an archive's header last, so a file is a complete archive
# only once it starts with the dynamic-archive magic 0xf00baba8.
CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")


def cds_plan(cds_dir: str, extra_conf: dict[str, str]) -> tuple[str, str]:
    """How the next driver JVM launches: ``("mapped", archive)``,
    ``("recording", part)`` (this process then holds the key's lock) or
    ``("off", "")``.

    The JVM neither dumps nor maps while a non-empty directory is on its
    classpath, and the launcher puts the Spark conf dir there. A conf dir
    of ``*.template`` files only is swapped for an empty one at launch; a
    live file in it (``spark-defaults.conf``, ``spark-env.sh``, ...) turns
    sharing off, so a user's configuration is never hidden.
    """
    try:
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
            _find_spark_home(), "conf"
        )
        if not _conf_is_templates(conf_dir):
            return "off", ""
        os.makedirs(os.path.join(cds_dir, "conf"), exist_ok=True)
        key = launch_key(extra_conf, cds_dir)
        drop_dead_keys(cds_dir, key)
        archive = settle_archive(cds_dir, key)
        if archive:
            return "mapped", archive
        if not take_lock(os.path.join(cds_dir, f"{key}.lock")):
            return "off", ""  # another JVM is recording this key
    except OSError:
        return "off", ""
    return "recording", os.path.join(cds_dir, f"{key}.{uuid.uuid4().hex[:8]}.part")


def cds_mode(spark: SparkSession) -> tuple[str, str | None]:
    """How the running driver JVM uses class-data sharing, read from its
    input arguments: ``("mapped", archive)``, ``("recording", part)`` or
    ``("off", None)``. An archive the JVM was given but did not map (a
    mismatched or damaged one) reads ``("off", archive)``."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    for arg in bean.getInputArguments():
        if arg.startswith("-XX:ArchiveClassesAtExit="):
            return "recording", arg.split("=", 1)[1]
        if arg.startswith("-XX:SharedArchiveFile="):
            path = arg.split("=", 1)[1]
            pid = jvm.java.lang.ProcessHandle.current().pid()
            try:
                with open(f"/proc/{pid}/maps") as f:
                    mapped = os.path.realpath(path) in f.read()
            except OSError:
                mapped = True  # no /proc to check against: trust the flag
            return ("mapped" if mapped else "off"), path
    return "off", None


def launch_key(extra_conf: dict[str, str], cds_dir: str) -> str:
    """The archive key of the JVM :func:`get_spark` would launch on
    ``cds_dir``: its :func:`cds_key` and the real path of the conf dir
    ``<cds_dir>/conf``. The launcher puts that dir on the classpath, and
    a JVM rejects an archive recorded under another classpath, so a
    checkout copied with its cache records a new archive at once instead
    of first mapping the copied one in vain."""
    heap = (
        extra_conf.get("spark.driver.memory")
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or DEFAULT_DRIVER_MEM
    )
    key = cds_key(_find_spark_home(), _java_binary(), _compressed_oops(heap))
    conf_dir = os.path.realpath(os.path.join(cds_dir, "conf"))
    return hashlib.sha256(f"{key}\0{conf_dir}".encode()).hexdigest()[:16]


def cds_key(spark_home: str, java: str, compressed_oops: bool) -> str:
    """Hash of what an archive is only valid for: the Java runtime (the
    binary and its ``release`` file), the launcher's classpath (name,
    size and mtime of every Spark jar), the pyspark version and the
    heap's compressed-oops mode. An upgrade gets a new archive instead
    of a silently unused one."""
    h = hashlib.sha256()
    real = os.path.realpath(java)
    st = os.stat(real)
    h.update(repr((real, st.st_size, st.st_mtime_ns)).encode())
    release = os.path.join(os.path.dirname(os.path.dirname(real)), "release")
    with open(release, "rb") as f:
        h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(repr((name, st.st_size, st.st_mtime_ns)).encode())
    h.update(repr((pyspark.__version__, compressed_oops)).encode())
    return h.hexdigest()[:16]


def _conf_is_templates(conf_dir: str) -> bool:
    """True when ``conf_dir`` is missing or holds only ``*.template`` files."""
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def is_complete_archive(path: str) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == CDS_MAGIC
    except OSError:
        return False


def settle_archive(cds_dir: str, key: str) -> str | None:
    """The complete archive for ``key``, or None.

    A file at the archive path that is not complete is removed. Unless a
    live process holds the key's lock, a finished recording (``.part``) is
    promoted into place and every other ``.part`` is removed, so a JVM
    killed while recording leaves nothing behind that a launch maps.
    """
    archive = os.path.join(cds_dir, f"{key}.jsa")
    if is_complete_archive(archive):
        return archive
    _unlink(archive)
    if _owner_alive(os.path.join(cds_dir, f"{key}.lock")):
        return None
    for part in glob.glob(os.path.join(cds_dir, f"{key}.*.part")):
        if is_complete_archive(part) and not os.path.exists(archive):
            try:
                os.replace(part, archive)
            except FileNotFoundError:
                pass  # a concurrent launch promoted it first
        else:
            _unlink(part)
    return archive if is_complete_archive(archive) else None


def drop_dead_keys(cds_dir: str, key: str) -> None:
    """Remove the archive, recordings and lock of every key but ``key``,
    except a key whose lock names a live process. A key stops matching
    when the Java runtime, the Spark jars, the heap mode or the
    checkout's path change, and its ~200 MB archive would otherwise stay
    for good. A JVM that still maps a removed archive keeps its pages."""
    for path in glob.glob(os.path.join(cds_dir, "*")):
        name = os.path.basename(path)
        other = name.split(".", 1)[0]
        if other == key or not name.endswith((".jsa", ".part", ".lock")):
            continue
        if not _owner_alive(os.path.join(cds_dir, f"{other}.lock")):
            _unlink(path)


def take_lock(lock: str) -> bool:
    """Create ``lock`` (``O_EXCL``) naming this process. A lock whose
    owner has exited is removed and taken; False while its owner lives."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _owner_alive(lock):
                return False
            _unlink(lock)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _owner_alive(lock: str) -> bool:
    try:
        with open(lock) as f:
            pid = int(f.read())
    except (OSError, ValueError):
        return False  # missing, unreadable or half-written: abandoned
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, under another user
    return True


def _write_owner(lock: str, pid: int) -> None:
    tmp = f"{lock}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(str(pid))
    os.replace(tmp, lock)


def _crash_log(path: str) -> str:
    """HotSpot's ``ErrorFile`` for a JVM launched on archive ``path``
    (``%p`` is the JVM's pid)."""
    return os.path.join(os.path.dirname(path), "hs_err_pid%p.log")


def _lock_path(part: str) -> str:
    key = os.path.basename(part).split(".", 1)[0]
    return os.path.join(os.path.dirname(part), f"{key}.lock")


def _unlink(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(path)


def _java_binary() -> str:
    """The ``java`` that Spark's launcher runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java:
        raise FileNotFoundError("java")
    return java


def _compressed_oops(heap: str) -> bool:
    """Whether a driver heap of ``heap`` (a Spark size, MiB when bare)
    runs with compressed oops: an archive records the mode and a JVM in
    the other one rejects it."""
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    s = heap.strip().lower().removesuffix("b")
    try:
        n = int(s[:-1]) * units[s[-1]] if s[-1:] in units else int(s) * 2**20
    except ValueError:
        return True
    return n < 32 * 2**30


@contextlib.contextmanager
def _conf_dir(path: str):
    """Point ``SPARK_CONF_DIR`` at ``path`` for the gateway launch only."""
    prev = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if prev is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = prev


def evict_caches(spark) -> None:
    """Cold-measurement hygiene for timing harnesses (bench.py,
    tools/scale_probe.py): drop every cached relation AND every
    module-level (session, corpus) memo dict in one call.

    The two MUST move together — ``clearCache`` unpersists the memoized
    DataFrames' storage, and a later memo hit on an unpersisted
    DataFrame silently recomputes WITHOUT re-caching for any later
    consumer (ADVICE r6 / bench.py discussion). Any new module memo
    belongs in this list, not in per-harness copies.
    """
    from .functions import dedup, sampling
    from .operators import behavior, joins, timeseries

    dedup._PAIR_CACHE.clear()
    timeseries._HOURLY_CACHE.clear()
    behavior._TS_PROFILE_CACHE.clear()
    joins._DPP_LAYOUT_CACHE.clear()
    sampling._STRAT_CACHE.clear()
    spark.catalog.clearCache()
