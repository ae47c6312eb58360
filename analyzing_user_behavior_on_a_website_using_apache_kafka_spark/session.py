"""SparkSession construction.

One tuned builder for every entry point (tests, bench, driver verify).
Settings are chosen for correctness-at-scale first:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong for at least one stage; AQE
  re-plans from actual map-output sizes.
- shuffle.partitions defaults to the local core count for the test rig;
  on a real cluster this is overridden (or left to AQE's coalescing from
  a high initial number).
- Arrow enabled: every Pandas-UDF / toPandas boundary is vectorized.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

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


def get_spark(
    app_name: str = "analyzing_user_behavior_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode is one JVM; ``spark.driver.memory`` is the only memory knob.
    On a cluster the same conf set is valid — AQE and the serializer/Arrow
    settings are scale-independent.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
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
        # env var — task-per-4MB at 100 TB would be 25M tasks.
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
        .config("spark.sql.shuffle.spill.compress", "true")
        # bucketed saveAsTable targets (co-located join tests) land in /tmp
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/aub_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
