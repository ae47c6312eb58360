"""Replayable file-based stream source (Kafka stand-in for tests/driver),
and the one place the engine starts a streaming query.

Structured Streaming's file source reads the same parquet fixtures as the
batch queries, so every streaming job can be verified against its batch
plan on identical input (SURVEY §5.2 self-oracle strategy).
:func:`start_stream` owns a query's state width and checkpoint;
:func:`run_to_completion` runs an AvailableNow query to its end.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import threading
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

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


# State width of run_stream's stateful operators: one state store per
# partition per micro-batch is pure fixed cost over KB-scale local state
# (stream-stream joins at sf0.1: 7.7-8.1 s at 32 → 3.6-4.2 s at 4). On a
# cluster, size it to state volume; the checkpoint freezes the count.
DEFAULT_STREAM_SHUFFLE_PARTITIONS = 4

_STATE_WIDTH_LOCK = threading.Lock()


class _OwnedCheckpointQuery(StreamingQuery):
    """A query on a checkpoint :func:`start_stream` picked: stopping it,
    or an ``awaitTermination`` that sees it ended (returned or raised),
    also removes the checkpoint, which exists only to resume this one
    query."""

    def __init__(self, query: StreamingQuery, checkpoint: str) -> None:
        super().__init__(query._jsq)
        self._checkpoint = checkpoint

    def awaitTermination(self, timeout: int | None = None) -> bool | None:
        try:
            return super().awaitTermination(timeout)
        finally:
            if not self.isActive:
                shutil.rmtree(self._checkpoint, ignore_errors=True)

    def stop(self) -> None:
        try:
            super().stop()
        finally:
            shutil.rmtree(self._checkpoint, ignore_errors=True)


def start_stream(
    stream_df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    output_mode: str,
    trigger: dict[str, Any],
    width: int,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Start ``stream_df`` as a ``foreachBatch(write_batch)`` query: the
    one place the engine starts a streaming query.

    ``trigger`` holds the keyword of ``DataStreamWriter.trigger``, e.g.
    ``{"availableNow": True}``. The query's stateful operators run at
    ``width`` partitions: a stateful operator takes its partition count
    from ``spark.sql.shuffle.partitions`` as the query starts
    (StreamExecution clones the session conf in ``start()``), and the
    checkpoint keeps that count for the query's lifetime. The shared
    session holds the width only for the ``start()`` call, under a lock,
    so two concurrent starts cannot leave the session at a stream's
    width. A batch query planned on another thread during that call
    still sees it. State uses the session's state store provider.

    ``checkpoint_dir``: a caller-supplied checkpoint is where a restart
    resumes, and is never removed. Without one the query gets a fresh
    checkpoint under the temp dir, removed when the query is stopped or
    ``awaitTermination`` sees it ended.
    """
    spark = stream_df.sparkSession
    checkpoint = checkpoint_dir or os.path.join(
        tempfile.gettempdir(), "aub_ckpt", uuid.uuid4().hex[:12]
    )
    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger)
    )
    with _STATE_WIDTH_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            query = writer.start()
        except BaseException:
            if checkpoint_dir is None:
                shutil.rmtree(checkpoint, ignore_errors=True)
            raise
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    if checkpoint_dir is None:
        return _OwnedCheckpointQuery(query, checkpoint)
    return query


def run_to_completion(query: StreamingQuery, timeout_sec: float) -> None:
    """Wait for a query started with a finite trigger (AvailableNow) to
    end, then stop it, which also drops a checkpoint the engine picked.

    Re-raises the query's exception. A query still running after
    ``timeout_sec`` was stopped mid-processing, so its sink holds
    PARTIAL results: that raises ``TimeoutError`` rather than let them
    surface as a silent row-count or value mismatch (observed once: a
    loaded-rig sweep failed q_stream_stream_left this way at an old
    120 s budget).
    """
    try:
        finished = query.awaitTermination(timeout_sec)
    finally:
        query.stop()
    if query.exception() is not None:
        raise query.exception()
    if not finished:
        raise TimeoutError(
            f"streaming query still running after {timeout_sec}s — "
            "refusing to return partial sink contents"
        )


def run_stream(
    stream_df: DataFrame,
    output_mode: str,
    timeout_sec: float = 300,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (Trigger.AvailableNow)
    through a foreachBatch→parquet sink; return the sink directory read
    back as a (distributed) batch DataFrame.

    foreachBatch hands each micro-batch over as a batch DataFrame whose
    parquet write runs with the executors' parallelism, so no result row
    is held on the driver (a memory sink would hold complete mode's whole
    table there). Complete mode overwrites the directory each trigger, so
    the last batch leaves the full result; append and update append each
    batch's emissions. AvailableNow processes everything present, then
    stops: the batch-like trigger that still exercises the incremental
    and stateful machinery.

    Stateful operators run at ``DEFAULT_STREAM_SHUFFLE_PARTITIONS``
    partitions, read at call time, on the session's state store provider.
    ``checkpoint_dir``: a caller-supplied checkpoint is kept after the run
    (the state-introspection tests read the stores back); by default
    each attempt takes a fresh one, removed however the attempt ends.
    """
    spark = stream_df.sparkSession
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def one_run():
        out_dir = os.path.join(
            tempfile.gettempdir(),
            "aub_streamsink",
            f"sink_{uuid.uuid4().hex[:12]}",
        )

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode(write_mode).parquet(out_dir)

        try:
            run_to_completion(
                start_stream(
                    stream_df,
                    write_batch,
                    output_mode,
                    {"availableNow": True},
                    DEFAULT_STREAM_SHUFFLE_PARTITIONS,
                    checkpoint_dir,
                ),
                timeout_sec,
            )
        except BaseException:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        # the sink dir must stay: the returned DataFrame reads it lazily
        if not any(
            f.endswith(".parquet")
            for f in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
        ):
            # zero micro-batches ran (empty source): no files to scan —
            # an empty frame with the stream's schema is the sink state
            return spark.createDataFrame([], stream_df.schema)
        return spark.read.parquet(out_dir)

    # One retry with a fresh checkpoint + sink dir, scoped to the KNOWN
    # transients under heavy rig load: a state store that fails to load,
    # and a timeout. Anything else — plan errors, state-schema mismatches,
    # real nondeterministic bugs — re-raises immediately so the
    # verification harness never masks it, and the retry is logged
    # loudly so a "green after retry" run is visible.
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
                "CANNOT_LOAD_STATE_STORE",
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
