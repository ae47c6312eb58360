"""Multi-micro-batch incrementality: the property that makes streaming
worth having over the reference's full-log rescan (SURVEY §0.2) is that
state ACCUMULATES across triggers. One AvailableNow pass over a single
file can't show that — here the log arrives as multiple files consumed
one per micro-batch (maxFilesPerTrigger=1), and the final state must
still equal the all-at-once batch answer."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
    load_table,
)


@pytest.fixture(scope="module")
def split_log(spark, sf_dir, tmp_path_factory):
    """events split into 4 files (by user_id range) in one directory."""
    d = str(tmp_path_factory.mktemp("split_log"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    for i in range(4):
        ev.filter(F.pmod("user_id", F.lit(4)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(d)
    return d


def _run_incremental(spark, split_log, agg_builder, output_mode, tmp_path):
    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # one file per micro-batch
        .parquet(split_log)
    )
    name = f"inc_{uuid.uuid4().hex[:10]}"
    q = (
        agg_builder(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "incremental run did not finish"
    assert len(q.recentProgress) >= 4, "expected one micro-batch per file"
    return spark.table(name)


def test_complete_agg_accumulates_across_batches(
    spark, sf_dir, split_log, tmp_path
):
    out = _run_incremental(
        spark,
        split_log,
        lambda s: s.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt")
        ),
        "complete",
        tmp_path,
    )
    got = {(r.event_type, r.cnt) for r in out.collect()}
    want = {
        (r.event_type, r.cnt)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_restart_from_checkpoint_resumes_not_rescans(
    spark, sf_dir, tmp_path
):
    """Stop-and-restart: a second query on the SAME checkpoint must
    resume from the committed offsets — state carries over and only new
    files are read. This is the engine's answer to the reference's
    restart story (a restart there re-reads the entire Kafka log,
    Raport.py:41-43; here it replays nothing)."""
    src = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    # write half the log, run to completion, then append the rest
    ev.filter(F.pmod("event_id", F.lit(2)) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = "event_id bigint, event_type string"

    def run_once(name):
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "checkpoint run did not finish"
        return {
            (r.event_type, r.cnt) for r in spark.table(name).collect()
        }, q.recentProgress

    got1, _ = run_once("ckpt_run1")
    half = {
        (r.event_type, r.cnt)
        for r in ev.filter(F.pmod("event_id", F.lit(2)) == 0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got1 == half

    ev.filter(F.pmod("event_id", F.lit(2)) == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    got2, progress = run_once("ckpt_run2")
    full = {
        (r.event_type, r.cnt)
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got2 == full
    # the restart processed only the NEW rows (state supplied the rest)
    rows_read = sum(p["numInputRows"] for p in progress)
    n_new = ev.filter(F.pmod("event_id", F.lit(2)) == 1).count()
    assert rows_read == n_new, (rows_read, n_new)


def test_stream_stream_join_state_spans_batches(spark, sf_dir, tmp_path):
    """All clicks arrive in micro-batch 1, all purchases in micro-batch
    2 — every match must therefore cross the batch boundary through the
    join state store. Final output equals the batch interval join."""
    src = str(tmp_path / "ss_log")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    ev.filter(F.col("event_type") == "click").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    ev.filter(F.col("event_type") == "purchase").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"

    def side(t, pref):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .filter(F.col("event_type") == t)
            .select(
                F.col("event_id").alias(f"{pref}_id"),
                F.col("user_id").alias(f"{pref}_user"),
                F.col("ts").alias(f"{pref}_ts"),
            )
            .withWatermark(f"{pref}_ts", "1 hour")
        )

    joined = side("click", "c").join(
        side("purchase", "p"),
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
    )
    name = f"ssj_{uuid.uuid4().hex[:10]}"
    q = (
        joined.select("c_id", "p_id")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "join run did not finish"
    got = {(r.c_id, r.p_id) for r in spark.table(name).collect()}
    a, b = ev.alias("a"), ev.alias("b")
    want = {
        (r.c, r.p)
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") == "click")
            & (F.col("b.event_type") == "purchase")
            & (F.col("b.ts") >= F.col("a.ts"))
            & (
                F.col("b.ts")
                <= F.col("a.ts") + F.expr("interval 30 minutes")
            ),
        )
        .select(
            F.col("a.event_id").alias("c"), F.col("b.event_id").alias("p")
        )
        .collect()
    }
    assert got == want and want, (len(got), len(want))


def test_streaming_dedup_across_batches(spark, sf_dir, split_log, tmp_path):
    out = _run_incremental(
        spark,
        split_log,
        lambda s: s.withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id"])
        .select("event_id"),
        "append",
        tmp_path,
    )
    n_stream = out.count()
    n_batch = (
        load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    )
    assert n_stream == n_batch


def test_dedup_fixture_duplicates_within_watermark_delay(spark, sf_dir):
    """Pins the fixture shape q_stream_dedup's batch-DISTINCT oracle
    relies on: every duplicate event_id arrives within 1 h of event time
    of its first sighting. dropDuplicatesWithinWatermark evicts a key's
    state once the watermark passes first_ts + delay; a duplicate after
    that re-emits (correct streaming semantics) and the DISTINCT oracle
    would go red. If the fixture ever changes shape, this fails loudly
    instead of the driver row."""
    span = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("span_s"),
        )
        .filter(F.col("n") > 1)
        .agg(F.max("span_s").alias("max_span"))
        .collect()[0]
    )
    assert span.max_span is None or span.max_span < 3600, span.max_span


def test_foreachbatch_upsert_accumulates_across_batches(
    spark, sf_dir, split_log, tmp_path
):
    """q_sink_foreachbatch's upsert writer must MERGE per-type counts
    across micro-batches (read-merge-dynamic-overwrite), not just
    overwrite with the last batch — the property the one-batch driver
    replay cannot see."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming.jobs import (  # noqa: E501
        type_count_upsert,
    )

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split_log)
    )
    final = str(tmp_path / "totals")
    q = (
        stream.select("event_type")
        .writeStream.foreachBatch(type_count_upsert(final))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "upsert run did not finish"
    assert q.exception() is None
    assert len(q.recentProgress) >= 4, "expected one micro-batch per file"
    got = {
        r.event_type: r.n_events
        for r in spark.read.parquet(final).collect()
    }
    want = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_run_stream_refuses_partial_results(spark, sf_dir):
    """awaitTermination timing out must RAISE, not hand back a
    partially-filled sink directory (the silent-mismatch flake class: a
    loaded rig once failed q_stream_stream_left's oracle row this way).
    A 1 ms budget expires before the first micro-batch can possibly
    commit (state-store startup alone is seconds), so the run times out
    deterministically — a 1 s budget raced a warm session once; both
    attempts (the timeout is retried once as load-transient) must end
    in TimeoutError."""
    import pytest

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources.file_stream import (
        run_stream,
        stream_table,
    )
    from pyspark.sql import functions as F

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.withWatermark("ts", "1 hour").groupBy(
        F.window("ts", "10 minutes"), "event_type"
    ).count()
    with pytest.raises(TimeoutError, match="partial sink contents"):
        run_stream(agg, "append", timeout_sec=0.001)


def test_stream_stream_left_multibatch_matches_oneshot(
    spark, sf_dir, tmp_path_factory, tmp_path
):
    """The left-outer stream-stream join must produce the SAME result
    whether the log arrives all at once or as time-ordered micro-
    batches: with a ts-ordered split no event is late, so incremental
    watermark advancement may only change WHEN outer rows emit, never
    WHICH rows exist at the end. (A user-id split would be wrong here —
    it creates massive artificial late data.)"""
    import datetime as _dt

    from pyspark.sql import Window as W

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
        jobs,
    )

    d = str(tmp_path_factory.mktemp("ts_split"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    part = ev.withColumn(
        "slice",
        F.ntile(3).over(W.orderBy("ts", "event_id")),
    )
    for i in (1, 2, 3):
        part.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(d)

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts "
            "AND p_ts <= c_ts + interval 30 minutes"
        ),
        "leftOuter",
    ).select("click_id", "purchase_id")
    name = f"ssl_{uuid.uuid4().hex[:10]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "incremental join did not finish"
    got = sorted(
        (r.click_id, r.purchase_id) for r in spark.table(name).collect()
    )
    want = sorted(
        (r.click_id, r.purchase_id)
        for r in jobs.q_stream_stream_left(spark, sf_dir).collect()
    )
    assert got == want


def test_run_stream_complete_multibatch_overwrites_to_final(
    spark, sf_dir, split_log
):
    """The r12 harness (run_stream: foreachBatch → parquet) maps
    complete mode to one OVERWRITE per trigger — the memory sink's
    truncate-and-refill without the driver heap. Single-file fixtures
    exercise only one micro-batch, where overwrite and append are
    indistinguishable; here four batches run, and a broken mapping
    (append in complete mode) would leave every intermediate
    aggregate-table snapshot in the sink — duplicate keys with partial
    counts. The final read-back must hold exactly the one final table,
    equal to the all-at-once batch answer."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources.file_stream import (
        run_stream,
    )

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split_log)
    )
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    rows = run_stream(agg, "complete").collect()
    # exactly one row per key — no stale per-batch snapshots survive
    assert len(rows) == len({r.event_type for r in rows})
    got = {(r.event_type, r.cnt) for r in rows}
    want = {
        (r.event_type, r.cnt)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want


def test_run_stream_append_multibatch_accumulates(
    spark, sf_dir, tmp_path_factory
):
    """Append mode under a multi-batch feed: per-trigger sink APPENDS
    must accumulate to the batch answer once the stream ends. Catches
    the inverse mapping bug — overwrite in append mode would keep only
    the final trigger's emissions, losing every window the advancing
    watermark closed in earlier batches. The split is TIME-ordered
    (ntile over ts) — a user-id split would feed each batch the whole
    time range and the watermark would drop batches 2+ as late data
    (same trap documented at the stream-stream left join test)."""
    from pyspark.sql import Window as W

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources.file_stream import (
        run_stream,
    )

    d = str(tmp_path_factory.mktemp("ts_split_append"))
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    part = ev.withColumn(
        "slice", F.ntile(3).over(W.orderBy("ts", "event_id"))
    )
    for i in (1, 2, 3):
        part.filter(F.col("slice") == i).drop("slice").coalesce(
            1
        ).write.mode("append").parquet(d)

    schema = "event_id bigint, user_id bigint, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got = {
        (r.window.start, r.event_type, r.cnt)
        for r in run_stream(agg, "append").collect()
    }
    # append emits a window only once the watermark passes its END —
    # the final day stays open forever (AvailableNow leaves the
    # watermark at max(ts) − 1h; it does NOT flush open windows), so
    # the batch expectation excludes windows ending after it. The
    # closed windows MUST all be present: most of them were emitted by
    # intermediate triggers, which is exactly what an
    # overwrite-instead-of-append bug would lose.
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cutoff = (
        load_table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("interval 1 hour")).alias("wm"))
        .collect()[0]
        .wm
    )
    want = {
        (r.window.start, r.event_type, r.cnt)
        for r in batch.collect()
        if r.window.end <= cutoff
    }
    assert len(want) > 10  # the fixture must actually close windows
    assert got == want
