"""Scan / source / sink operators.

Reference parity: the full-log Kafka scan + utf-8 decode projection
(``Raport.py:41-62``, SURVEY §2.1 R8/R10) and the register-path row append
(``app.py:121-124``, R26). Here the scan is a parquet read with column
projection — Catalyst pushes the projection into the scan (check
``ReadSchema`` in ``.explain``), so at 100 TB only the selected columns'
pages are read.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..fixtures import materialized_fixture
from ..registry import query


@query(
    "q_scan_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
    FROM lineitem
    """,
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + column projection (pruned to 3 of 11 columns).

    Parity: SURVEY §2.1 R8 (full-log scan) + R10 (decode/cast projection,
    ``Raport.py:62``). The projection reaches the parquet reader — only
    3 column chunks are decoded regardless of table width.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )


@query(
    "q_source_json",
    oracle="""
    SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
    FROM events
    """,
)
def q_source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON source round-trip: events → JSON lines → schema'd read-back.

    Multi-format source surface (parquet is the columnar default; JSON/
    CSV are the interchange paths). The read uses an EXPLICIT schema —
    at 100 TB schema inference is a full extra pass over the data and is
    never acceptable; with a schema the reader is a single streaming-
    decode pass.

    Fixture hygiene (r10): the JSON directory is a write-once
    ``materialized_fixture`` (deterministic per-corpus path, corpus
    fingerprint, flock, atomic publish — ``fixtures.py``) instead of a
    fresh ``mkdtemp`` per call, matching ``Raport.py:41``'s
    re-read-the-same-log semantics without leaking a directory and
    re-paying the parquet→JSON conversion on every sweep/bench call.
    """

    def _build(tmp: str) -> None:
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").json(tmp)

    out = materialized_fixture("srcjson", sf_dir, ["events"], _build)
    return spark.read.schema(
        "event_id bigint, event_type string, value double"
    ).json(out)


@query(
    "q_source_csv",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def q_source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip with explicit schema + header.

    Fixture hygiene (r10): write-once ``materialized_fixture`` — see
    ``q_source_json``; same leak/re-paid-conversion fix.
    """

    def _build(tmp: str) -> None:
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ).write.mode("overwrite").option("header", "true").csv(tmp)

    out = materialized_fixture("srccsv", sf_dir, ["nation"], _build)
    return (
        spark.read.schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .option("header", "true")
        .csv(out)
    )


@query(
    "q_source_orc",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, ROUND(s_acctbal, 2) AS acctbal
    FROM supplier
    """,
)
def q_source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip — the second columnar format Spark ships
    natively. Same pushdown properties as parquet (column pruning +
    predicate pushdown reach the stripe reader); included so a consumer
    with ORC-resident data has a first-class path."""
    out = tempfile.mkdtemp(prefix="aub_source_orc_")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round("s_acctbal", 2).alias("acctbal"),
    )
    sup.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "q_source_evolving_schema",
    oracle="""
    SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey,
           CAST(1 AS INT) AS batch
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, CAST(n_regionkey AS BIGINT), CAST(2 AS INT)
    FROM nation
    """,
)
def q_source_evolving_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches (``mergeSchema``): batch 1
    was written before the n_regionkey column existed, batch 2 after.
    Reading the directory with ``mergeSchema=true`` reconciles the two
    footers into the union schema; batch-1 rows surface NULL for the
    added column.

    The operational reality of a 100 TB log: producers add columns over
    time and old partitions are never rewritten. By default Spark reads
    the schema from ONE footer (cheap, wrong across drift); mergeSchema
    reconciles all footers — turn it on per-read for drifted
    directories, or pin the contract with an explicit ``.schema(...)``
    (additive-only drift makes the explicit schema forward-compatible).
    Types must be pinned at write time: an int32 batch-1 column and an
    int64 batch-2 column fail the merge, which is why every write here
    casts keys to bigint first.

    Fixture hygiene (r9): the two-batch directory is a write-once
    ``materialized_fixture`` (deterministic per-corpus path, corpus
    fingerprint, flock, atomic publish — see ``fixtures.py``) instead
    of a fresh ``mkdtemp`` per call, which leaked a directory and
    re-paid the conversion on every sweep/bench invocation.  This key
    is the r9 exemplar; its five source-format siblings migrate in the
    rounds their keys are driver-checked (json/csv r10, orc/xml/
    binaryfile r11 — the changed-key verification discipline).
    """

    def _build(tmp: str) -> None:
        nation = load_table(spark, sf_dir, "nation")
        batch1 = nation.select(
            F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
            "n_name",
            F.lit(1).alias("batch"),
        )
        batch2 = nation.select(
            F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
            F.lit(2).alias("batch"),
        )
        batch1.write.mode("append").parquet(tmp)
        batch2.write.mode("append").parquet(tmp)

    out = materialized_fixture("evolving", sf_dir, ["nation"], _build)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "n_nationkey", "n_name", "n_regionkey", "batch"
    )


@query(
    "q_source_xml",
    oracle="""
    SELECT p_partkey, p_name, p_brand, ROUND(p_retailprice, 2) AS price
    FROM part
    """,
)
def q_source_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip — Spark 4's NATIVE xml reader (spark-xml
    graduated into core), the interchange path for feeds that still
    speak XML. Explicit schema as always (inference is an extra full
    pass); entity escaping (&, <, >) is handled by the format, which
    the part names' punctuation exercises. rowTag selects the record
    element; at 100 TB the reader splits files by row boundaries like
    JSON lines, so parallelism is file/size-driven, not document-
    driven."""
    out = tempfile.mkdtemp(prefix="aub_source_xml_")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.round("p_retailprice", 2).alias("price"),
    )
    part.write.mode("overwrite").option("rootTag", "parts").option(
        "rowTag", "part"
    ).xml(out)
    return (
        spark.read.schema(
            "p_partkey bigint, p_name string, p_brand string, price double"
        )
        .option("rowTag", "part")
        .xml(out)
    )


@query(
    "q_source_binaryfile",
    oracle="""
    SELECT doc_id, strlen(text) + 1 AS n_bytes,
           md5(text || chr(10)) AS content_md5
    FROM documents
    """,
)
def q_source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — THE ingest path for multimodal blobs (images,
    audio, video) that don't arrive in a columnar container.

    Round-trip: every document's text lands as its own file under a
    doc_id=N partition directory (distributed `partitionBy().text()`
    write — no driver-side file loop), then `spark.read.format(
    "binaryFile")` lists the tree (`recursiveFileLookup`) and yields
    (path, modificationTime, length, content) rows; the key is
    recovered from the directory name and the payload is checksummed
    JVM-side. The oracle recomputes size and md5 from the source table
    (the text sink appends one newline per row, hence `|| chr(10)`).

    100 TB notes: the binaryFile relation COLUMN-PRUNES `content` — a
    metadata-only query (count, size histogram, path filter) never
    reads the blob bytes; `pathGlobFilter` prunes at listing time, and
    a partitioned directory layout (date/source/...) gives directory-
    level pruning exactly like parquet partitions. Pair it with
    `mapInPandas` decode (functions/multimodal.py) for the
    decode-and-feature path; `spark.sql.files.maxPartitionBytes` sets
    how many blobs a task packs.
    """
    out = tempfile.mkdtemp(prefix="aub_source_bin_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r16 (guide §2.6/§6): the dynamic-partition write is FILE-CREATION
    # bound (one dir + one file + one commit rename per doc), so its
    # wall scales with files-per-task, not bytes. The fixture table is
    # one sub-4MB parquet file → a single write task paid all 5,000
    # file creations sequentially (measured 62-73 s at sf0.1, identical
    # on tmpfs — latency per file op, not disk). An EXPLICIT-width
    # hash repartition on the partition key spreads the creations
    # across every core: 4× defaultParallelism tasks (~40 files each;
    # oversubscription overlaps the per-file latency) → 11-15 s
    # measured. The width must be explicit — repartition(col) without a
    # number is AQE-coalescible, and at these byte sizes AQE folds it
    # straight back to one partition (measured: no improvement).
    # Scale-adaptive by construction: defaultParallelism tracks the
    # cluster, and at real blob sizes the write becomes byte-bound and
    # the same layout streams normally.
    write_width = 4 * spark.sparkContext.defaultParallelism
    docs.repartition(write_width, F.col("doc_id")).write.mode(
        "overwrite"
    ).partitionBy("doc_id").text(out)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(out)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "q_sink_append",
    oracle="""
    SELECT n_nationkey, n_name, CAST(2 AS BIGINT) AS n_copies FROM nation
    """,
)
def q_sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode parquet sink + read-back (register path, R26).

    Writes a small projection out in append mode to a fresh temp dir and
    reads it back; returns the read-back rows — deterministically 2
    copies of every nation row (one overwrite + one append), which is
    the SQL oracle. At scale this is the same ``df.write.mode("append")``
    against a partitioned table location — Spark's parquet commit
    protocol makes the append atomic per job.
    """
    out = tempfile.mkdtemp(prefix="aub_sink_append_")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.write.mode("overwrite").parquet(out)  # fresh base
    nation.write.mode("append").parquet(out)  # the appended batch
    return (
        spark.read.parquet(out)
        .groupBy("n_nationkey", "n_name")
        .count()
        .withColumnRenamed("count", "n_copies")
    )


@query(
    "q_sink_upsert",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey = 1 AND n_nationkey % 2 = 0
                THEN upper(n_name) ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT 777 AS n_nationkey, 'NEWLAND' AS n_name, 1 AS n_regionkey
    """,
)
def q_sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-level upsert (MERGE without a lakehouse format):
    dynamic partition overwrite rewrites ONLY the partitions an update
    batch touches — updates region 1's names and inserts one new row,
    leaving the other 4 region partitions' files untouched.

    The pattern: upserted-partition contents = changes ∪ (existing rows
    not superseded), written with the per-write option
    ``partitionOverwriteMode=dynamic`` (the session conf is untouched) so
    unchanged partitions never rewrite. At 100 TB with dt-partitioned
    logs this is the difference between rewriting one day and rewriting
    the table; row-level MERGE needs a table format (Delta/Iceberg) and
    is out of scope for a plain-parquet engine.
    """
    # per-run directory: a fixed path shared across concurrent runs
    # would let one run's overwrite commit race another's read-back
    out = tempfile.mkdtemp(prefix="aub_sink_upsert_")
    # pin integer widths up front: the fixture stores int32 keys, the
    # inserted literal is int64 — mixed widths across parquet files in
    # one partition break the read-back
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(out)
    changes = nation.filter(
        (F.col("n_regionkey") == 1) & (F.col("n_nationkey") % 2 == 0)
    ).select(
        "n_nationkey", F.upper("n_name").alias("n_name"), "n_regionkey"
    ).unionByName(
        spark.createDataFrame(
            [(777, "NEWLAND", 1)],
            "n_nationkey bigint, n_name string, n_regionkey bigint",
        )
    )
    existing = spark.read.parquet(out).filter(F.col("n_regionkey") == 1)
    # materialize BEFORE the overwrite action: `keep` reads the same
    # path the write below replaces, so a lazy plan could re-scan
    # post-commit files under task retry / AQE re-execution and corrupt
    # the result. localCheckpoint pins the pre-overwrite rows.
    keep = existing.join(
        changes.select("n_nationkey"), "n_nationkey", "left_anti"
    ).select("n_nationkey", "n_name", "n_regionkey").localCheckpoint()
    changes.unionByName(keep).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("n_regionkey").parquet(out)
    return spark.read.parquet(out).select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("bigint")
    )


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + partition-pruned read-back — the
    layout a 100 TB event log actually lives in (dt=/type= directories).
    Writes events partitioned by event_type, then reads back with a
    partition-key filter: the filter resolves against directory names
    (PartitionFilters in the scan node, asserted in tests/test_plans),
    so 3 of the 5 partitions are never opened. At scale this is the
    difference between scanning 100 TB and scanning the 2 partitions a
    query touches."""
    out = tempfile.mkdtemp(prefix="aub_sink_part_")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_BUCKETS = 8  # both sides bucketed by custkey into the same bucket count


@query(
    "q_sink_bucketed",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table sink + co-located join: write orders and customer
    ``bucketBy(custkey)`` into the same bucket count, then join the two
    bucketed tables — Spark's scan reports the bucket spec and the join
    needs NO exchange on either side (asserted in test_plans.py with
    broadcast disabled).

    THE physical design for a repeatedly-joined 100 TB fact/dim pair:
    the shuffle is paid once at write time; every subsequent join,
    groupBy, or MERGE keyed on custkey is exchange-free because file
    layout IS the hash partitioning. sortBy within buckets additionally
    lets SortMergeJoin skip its sort. This is what "pre-partition the
    storage, not the job" means in practice; with 1000 executors the
    join stage reads co-located bucket pairs with zero network traffic.
    """
    wh = tempfile.mkdtemp(prefix="aub_bucketed_")
    names = {}
    for tbl, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        sfx = re.sub(r"[^0-9a-zA-Z]", "_", os.path.basename(sf_dir))
        name = f"aub_bkt_{tbl}_{sfx}"
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, tbl)
            .write.bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", os.path.join(wh, tbl))
            .mode("overwrite")
            .saveAsTable(name)
        )
        names[tbl] = name
    o = spark.table(names["orders"])
    c = spark.table(names["customer"])
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# --- Z-order clustered sink (r8 widening) ---------------------------------
#
# Morton/Z-value arithmetic is GENERATED once here and rendered for both
# engines (Spark `div`, DuckDB `//`) so the oracle is the same arithmetic
# by construction.  Integer div/mod instead of shifts because the two SQL
# dialects disagree on shift syntax but agree exactly on div/mod.

_Z_BITS = 16  # per-dimension resolution: 16+16 bits -> 32-bit z-value


def _z_norm_expr(col: str, lo: str, hi: str) -> str:
    """Map col into [0, 2^_Z_BITS) by min/max scaling — identical double
    arithmetic in both engines, floored and cast to BIGINT. GREATEST
    guards the degenerate constant-column case (hi == lo would divide
    by zero, and double-div-by-zero semantics DIFFER between engines);
    a constant column normalizes to all-zeros, which is the correct
    z-curve for a dimension with no spread."""
    return (
        f"CAST(FLOOR((CAST({col} AS DOUBLE) - ({lo})) * {2**_Z_BITS - 1}"
        f" / GREATEST(({hi}) - ({lo}), 1e-300)) AS BIGINT)"
    )


def _z_interleave_expr(na: str, nb: str, intdiv: str) -> str:
    """Bit-interleave two _Z_BITS-wide ints via div/mod arithmetic."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({na}) {intdiv} {2 ** i}) % 2 * {2 ** (2 * i)}")
        terms.append(
            f"(({nb}) {intdiv} {2 ** i}) % 2 * {2 ** (2 * i + 1)}"
        )
    return " + ".join(terms)


_Z_NA_DUCK = _z_norm_expr(
    "o_custkey",
    "(SELECT MIN(o_custkey) FROM orders)",
    "(SELECT MAX(o_custkey) FROM orders)",
)
_Z_NB_DUCK = _z_norm_expr(
    "o_totalprice",
    "(SELECT MIN(o_totalprice) FROM orders)",
    "(SELECT MAX(o_totalprice) FROM orders)",
)
_Z_CELL_DIV = 2 ** 24  # keep the top 8 z bits -> 256 analysis cells


@query(
    "q_sink_zorder",
    oracle=f"""
    WITH zed AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             {_z_interleave_expr(f'({_Z_NA_DUCK})', f'({_Z_NB_DUCK})', '//')}
               AS z
      FROM orders
    )
    SELECT z // {_Z_CELL_DIV} AS zcell,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_custkey) AS ck_min, MAX(o_custkey) AS ck_max,
           ROUND(MIN(o_totalprice), 2) AS tp_min,
           ROUND(MAX(o_totalprice), 2) AS tp_max
    FROM zed GROUP BY zcell
    """,
)
def q_sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered parquet sink — multi-dimensional
    data skipping, the layout optimization behind Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` re-expressed as plain Spark: normalize the
    two cluster columns to 16-bit grid coordinates (min/max from a
    broadcast 1-row agg), bit-interleave them into a 32-bit z-value
    with pure JVM div/mod arithmetic (whole-stage codegen — no UDF),
    then ``repartitionByRange(z).sortWithinPartitions(z)`` so file AND
    row-group boundaries follow the space-filling curve.

    Why it matters at 100 TB: a linear sort on o_custkey makes custkey
    predicates skip files but leaves every file spanning the FULL
    o_totalprice range; the z-order layout keeps per-file min/max
    tight on BOTH columns at once (measured here: each of 8 files
    covers 25-50% of the price range instead of ~100% — the sqrt(1/N)
    curve expectation), so parquet footer stats prune scans for
    predicates on either column. The write-side shuffle is one range
    exchange on z — paid once, amortized over every later scan.

    The returned relation reads the clustered files BACK and
    aggregates per coarse z-cell (top 8 bits, 256 cells) with min/max
    of both dims — the round-trip proves content fidelity and the
    cell-local ranges ARE the clustering property. Oracle: identical
    generated arithmetic on the source table (single source of truth:
    `_z_interleave_expr` renders `div` for Spark, `//` for DuckDB).
    Per-file footer-stats tightness is additionally asserted in
    tests/test_plans.py from the actual parquet metadata.
    """
    o = load_table(spark, sf_dir, "orders")
    mm = o.agg(
        F.min("o_custkey").alias("ck_lo"),
        F.max("o_custkey").alias("ck_hi"),
        F.min("o_totalprice").alias("tp_lo"),
        F.max("o_totalprice").alias("tp_hi"),
    )
    na = _z_norm_expr("o_custkey", "ck_lo", "ck_hi")
    nb = _z_norm_expr("o_totalprice", "tp_lo", "tp_hi")
    zed = (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .crossJoin(F.broadcast(mm))
        .withColumn("na", F.expr(na))
        .withColumn("nb", F.expr(nb))
        .withColumn("z", F.expr(_z_interleave_expr("na", "nb", "div")))
    )
    out = tempfile.mkdtemp(prefix="aub_zorder_")
    (
        zed.select("o_orderkey", "o_custkey", "o_totalprice", "z")
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.withColumn("zcell", F.expr(f"z div {_Z_CELL_DIV}"))
        .groupBy("zcell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("o_custkey").alias("ck_min"),
            F.max("o_custkey").alias("ck_max"),
            F.round(F.min("o_totalprice"), 2).alias("tp_min"),
            F.round(F.max("o_totalprice"), 2).alias("tp_max"),
        )
    )
