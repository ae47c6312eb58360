"""Focused guards for the r17 optimization-pass internals
(OPTIMIZATION_r17.md): pin each rewrite's equivalence argument so an
engine bump that breaks the assumption fails HERE with the reason,
not in a driver hash mismatch.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources import (
    file_stream,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources.file_stream import (
    run_stream,
    stream_table,
)


def _session_agg(spark, sf_dir):
    ev = stream_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))


def test_run_stream_scopes_state_partition_width(spark, sf_dir, tmp_path):
    """r17: run_stream lowers spark.sql.shuffle.partitions to the
    DEFAULT_STREAM_SHUFFLE_PARTITIONS width for the streaming query
    (stateful fan-out = one state store per partition per batch)
    and RESTORES the session value afterwards — batch plans must never
    inherit the streaming width. The checkpoint's state directory
    carries the proof: one numbered dir per state partition."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt = str(tmp_path / "ckpt")
    out = run_stream(
        _session_agg(spark, sf_dir), "complete", checkpoint_dir=ckpt
    )
    assert out.count() > 0
    # session conf restored for the batch read-back and everything after
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    state_parts = sorted(
        d
        for d in os.listdir(os.path.join(ckpt, "state", "0"))
        if d.isdigit()
    )
    want = file_stream.DEFAULT_STREAM_SHUFFLE_PARTITIONS
    assert len(state_parts) == int(want), state_parts


def test_stream_output_invariant_to_state_partition_width(
    spark, sf_dir, monkeypatch
):
    """The width is layout, not semantics: the same stateful query run
    at width 3 and width 7 must emit identical row sets (the r17 A/B's
    losslessness premise — the driver oracle covers the default width,
    this covers the knob itself)."""

    def rows(width: int):
        monkeypatch.setattr(
            file_stream, "DEFAULT_STREAM_SHUFFLE_PARTITIONS", width
        )
        out = run_stream(_session_agg(spark, sf_dir), "complete")
        return sorted(tuple(r) for r in out.collect())

    assert rows(3) == rows(7)


def test_concurrent_run_streams_restore_session_width(spark, sf_dir):
    """Five threads starting run_stream at once, with a short switch
    interval: each sets the session's width for its own start only,
    under a lock, so the session ends at its original width. An
    unguarded interleaving can restore another stream's width last."""
    import sys
    import threading

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    n = 5
    barrier = threading.Barrier(n)
    results: list = []
    errors: list = []

    def run():
        try:
            barrier.wait(60)
            out = run_stream(_session_agg(spark, sf_dir), "complete")
            results.append(sorted(tuple(r) for r in out.collect()))
        except Exception as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(results) == n and all(r == results[0] for r in results)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
