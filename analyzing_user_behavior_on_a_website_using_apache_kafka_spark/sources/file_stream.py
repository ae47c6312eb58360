"""Replayable file-based stream source (Kafka stand-in for tests/driver).

Structured Streaming's file source reads the same parquet fixtures as the
batch queries, so every streaming job can be verified against its batch
plan on identical input (SURVEY §5.2 self-oracle strategy).
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import ensure_reader_conf, normalize, table_path


def _stream_dir(sf_dir: str, name: str) -> str:
    """FileStreamSource requires a *directory* to monitor, but the fixtures
    are single parquet files — expose each through a per-(sf, table) temp
    directory holding a symlink to the read-only fixture.

    The directory key hashes the FULL sf_dir path: two distinct sf_dirs
    sharing a basename (e.g. tmp-dir test fixtures) must not collide on
    one symlink. A pre-existing link pointing elsewhere (or dangling —
    its target deleted) is replaced, never trusted."""
    target = table_path(sf_dir, name)
    path_tag = hashlib.md5(
        os.path.abspath(sf_dir).encode("utf-8")
    ).hexdigest()[:8]
    d = os.path.join(
        tempfile.gettempdir(),
        "aub_streamsrc",
        f"{os.path.basename(os.path.normpath(sf_dir))}_{path_tag}",
        name,
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    if os.path.lexists(link) and (
        not os.path.exists(link) or os.path.realpath(link) != os.path.realpath(target)
    ):
        try:
            os.remove(link)  # dangling or pointing at a different fixture
        except FileNotFoundError:
            pass  # concurrent cleaner won the removal race
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:  # concurrent creator won the race
            pass
    return d


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """readStream over one fixture parquet (schema pinned from a batch
    peek — file sources require an explicit schema). The same catalog
    normalization (ns→us timestamp) applies on top of the raw stream."""
    ensure_reader_conf(spark, name)
    schema = spark.read.parquet(table_path(sf_dir, name)).schema
    return normalize(
        name, spark.readStream.schema(schema).parquet(_stream_dir(sf_dir, name))
    )


# run_stream's state width when SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS is
# unset (see the comment at its use in run_stream).
DEFAULT_STREAM_SHUFFLE_PARTITIONS = 4

_STATE_WIDTH_LOCK = threading.Lock()


def start_with_state_width(
    spark: SparkSession, writer: DataStreamWriter, width: int
) -> StreamingQuery:
    """``writer.start()`` with the query's stateful operators at ``width``
    partitions.

    A stateful operator takes its partition count from
    ``spark.sql.shuffle.partitions`` as the query starts (StreamExecution
    clones the session conf in ``start()``), and the checkpoint keeps
    that count for the query's lifetime. The shared session holds the
    width only for the ``start()`` call, under a lock, so two concurrent
    starts cannot leave the session at a stream's width. A batch query
    planned on another thread during that call still sees it.
    """
    with _STATE_WIDTH_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            return writer.start()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream(
    stream_df: DataFrame,
    output_mode: str,
    timeout_sec: float = 300,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (Trigger.AvailableNow)
    through a foreachBatch→parquet sink; return the sink directory read
    back as a (distributed) batch DataFrame.

    This replaced the r3–r11 memory-sink harness: the memory sink
    collects EVERY result row into the driver's heap (complete mode
    holds the entire aggregate table there), so a query whose output
    scales with the data — q_stream_session's O(users × sessions) rows,
    q_stream_kafka_source's O(events) — turned the verification path
    into the exact driver-side materialization the engine bans
    elsewhere (SCALE.md measured q_stream_session at exponent 1.06,
    output-linear on the driver). foreachBatch instead hands each
    micro-batch over as a batch DataFrame whose parquet write runs with
    the executors' parallelism; the driver only coordinates, and the
    returned frame is a parquet scan that stays distributed through
    whatever comparison follows. Mode mapping inside the writer:
    complete overwrites the directory each trigger (last batch leaves
    the full result — the memory sink's truncate-and-refill, minus the
    driver heap), append/update append their per-batch emissions
    (byte-for-byte the rows the memory sink would have appended).

    AvailableNow = process everything present, then stop — the batch-like
    trigger that still exercises the incremental/stateful machinery. The
    production analog swaps AvailableNow for a processing-time trigger
    and points the same foreachBatch writer (or a native kafka/parquet
    sink) at durable storage.

    State lives in RocksDB (bundled with Spark ≥3.2): state size is
    bounded by disk, not executor heap — the only viable provider when
    dedup/session state reaches 100 TB-scale key counts. Set lazily so a
    vanilla consumer session gets it too; HDFSBacked remains a one-conf
    rollback.
    """
    spark = stream_df.sparkSession
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    write_mode = "overwrite" if output_mode == "complete" else "append"
    # r17 (guide §5, VERDICT r16 item 5): stateful operators take their
    # partition count from spark.sql.shuffle.partitions at FIRST batch
    # (AQE is disabled in stateful workloads, so the session's 32 is
    # literal), and every stateful op then opens+commits one RocksDB
    # instance PER partition PER micro-batch. For the local one-batch
    # AvailableNow harness over KB-scale state that fan-out is pure
    # fixed cost: interleaved same-session A/B at sf0.1 measured
    # stream-stream joins 7.7-8.1 s @32 → 3.6 s @8 → 3.6-4.2 s @4
    # (2.2×), dedup 2.7→1.7, session 2.0→1.4, complete_agg 2.2→1.6 @4.
    # LOCAL-RIG default 4, env-parameterized like the scan knobs; on a
    # real cluster SIZE IT UP to state volume ÷ target per-instance
    # state (the count is frozen into the checkpoint for the query's
    # lifetime — pick for peak state, e.g. hundreds at 100 TB rates).
    # Scoped to the streaming query only by start_with_state_width.
    stream_parts = int(
        os.environ.get(
            "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS",
            DEFAULT_STREAM_SHUFFLE_PARTITIONS,
        )
    )

    def one_run():
        name = f"sink_{uuid.uuid4().hex[:12]}"
        # checkpoint_dir: caller-supplied path RETAINED after the run
        # (state-introspection tests and tools/state_probe.py read the
        # stores back through the statestore source). Default: a fresh
        # throwaway path, deleted on success as before.
        checkpoint = checkpoint_dir or os.path.join(
            tempfile.gettempdir(), "aub_ckpt", name
        )
        out_dir = os.path.join(
            tempfile.gettempdir(), "aub_streamsink", name
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode(write_mode).parquet(out_dir)

        q = start_with_state_width(
            spark,
            stream_df.writeStream.foreachBatch(write_batch)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True),
            stream_parts,
        )
        try:
            finished = q.awaitTermination(timeout_sec)
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise q.exception()
        if not finished:
            # awaitTermination TIMED OUT: the query was stopped
            # mid-processing and the sink directory holds PARTIAL
            # results. Returning them would surface as a silent
            # row-count/value mismatch in the oracle gate (observed
            # once: a loaded-rig sweep failed q_stream_stream_left this
            # way at the old 120 s budget) — refuse loudly instead.
            raise TimeoutError(
                f"streaming query still running after {timeout_sec}s — "
                "refusing to return partial sink contents"
            )
        # the checkpoint (RocksDB state + offset log) exists only to
        # resume THIS run, and every run gets a fresh one — drop it so
        # a long driver session's dozens of streaming verifications
        # don't accumulate state dirs in /tmp — UNLESS the caller
        # supplied the path (retention is then the point). The SINK
        # dir must stay: the returned DataFrame reads it lazily.
        if checkpoint_dir is None:
            import shutil

            shutil.rmtree(checkpoint, ignore_errors=True)
        if not any(
            f.endswith(".parquet")
            for f in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
        ):
            # zero micro-batches ran (empty source): no files to scan —
            # an empty frame with the stream's schema is the sink state
            return spark.createDataFrame([], stream_df.schema)
        return spark.read.parquet(out_dir)

    # One retry with fresh checkpoint + sink dir, scoped to the KNOWN
    # transient: RocksDB snapshot/changelog uploads abort sporadically
    # under heavy rig load (observed once in ~10² runs). Anything else —
    # plan errors, state-schema mismatches, real nondeterministic bugs —
    # re-raises immediately so the verification harness never masks it,
    # and the retry is logged loudly so a "green after retry" run is
    # visible.
    try:
        return one_run()
    except Exception as exc:
        if checkpoint_dir is not None:
            # a retained checkpoint may hold committed batches; a
            # retry would RESUME it into a fresh empty sink and return
            # rows missing everything already committed — the caller
            # owns recovery for checkpoints it owns
            raise
        msg = str(exc)
        transient = any(
            marker in msg
            for marker in (
                "RocksDB",  # snapshot/changelog upload abort
                "CANNOT_LOAD_STATE_STORE",
                # load-induced timeout (see one_run): a fresh attempt on
                # a momentarily-quieter rig routinely completes
                "refusing to return partial sink contents",
            )
        )
        if not transient:
            raise
        print(
            "run_stream: retrying once after transient state-store "
            f"failure: {msg.splitlines()[0][:200]}",
            file=sys.stderr,
        )
        return one_run()
