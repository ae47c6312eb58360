"""The one way a streaming query starts (``sources.file_stream.start_stream``):
checkpoints the engine picks are removed however the query ends, and no
engine call leaves an edit in the shared session's conf."""

from __future__ import annotations

import ast
import os
import pathlib
import tempfile

import pytest
from pyspark.sql import functions as F

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
    scans,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources.file_stream import (
    run_stream,
    stream_table,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
    clickstream,
    jobs,
    report,
)
from test_report_sink import (
    _CLICKS_DDL,
    _NULL_CLICKS,
    _NULL_USERS,
    _USERS_DDL,
    _write_clicks,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "analyzing_user_behavior_on_a_website_using_apache_kafka_spark"
)


def _start_and_stop_report(spark, clicks_dir) -> None:
    """Start the report on an engine-picked checkpoint, let it report
    every click file present, and stop it."""
    _write_clicks(clicks_dir, 0, _NULL_CLICKS)
    users = spark.createDataFrame(_NULL_USERS, _USERS_DDL)
    stream = spark.readStream.schema(_CLICKS_DDL).json(str(clicks_dir))
    captured: list = []
    q = report.run_report_stream(
        clickstream.fan_out_messages(stream, users),
        lambda model, epoch: captured.append(model),
        trigger_seconds=0,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None and captured


def _entries(root) -> list[str]:
    return os.listdir(root) if os.path.isdir(root) else []


def test_engine_checkpoints_are_removed_however_the_query_ends(
    spark, sf_dir, tmp_path, monkeypatch, capsys
):
    """run_stream (a success, and a failure on both attempts of its one
    retry), q_sink_foreachbatch and a report start and stop each take a
    fresh checkpoint under the temp dir; none is left behind."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = stream_table(spark, sf_dir, "events")

    assert run_stream(ev.select("event_id"), "append").count() > 0
    # the message reads as a transient state-store failure, so the
    # first failed attempt is retried once before the error surfaces
    failing = ev.select(
        F.raise_error(F.lit("CANNOT_LOAD_STATE_STORE injected")).alias("x")
    )
    with pytest.raises(Exception, match="injected"):
        run_stream(failing, "append")
    assert "run_stream: retrying once" in capsys.readouterr().err
    assert jobs.q_sink_foreachbatch(spark, sf_dir).count() > 0
    _start_and_stop_report(spark, tmp_path / "clicks")

    for root in ("aub_ckpt", "aub_report_ckpt"):
        assert _entries(tmp_path / root) == [], root
    # only the successful run's sink is left: its frame reads it lazily
    assert len(_entries(tmp_path / "aub_streamsink")) == 1


def test_report_checkpoint_is_removed_once_await_sees_the_end(
    spark, tmp_path, monkeypatch
):
    """An AvailableNow report whose caller only awaits it, never stops
    it, leaves no checkpoint: whether ``awaitTermination`` returns or
    raises the query's failure."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _write_clicks(tmp_path / "clicks", 0, _NULL_CLICKS)
    users = spark.createDataFrame(_NULL_USERS, _USERS_DDL)

    def run(sink):
        stream = spark.readStream.schema(_CLICKS_DDL).json(str(tmp_path / "clicks"))
        return report.run_report_stream(
            clickstream.fan_out_messages(stream, users), sink, available_now=True
        )

    captured: list = []
    assert run(lambda model, epoch: captured.append(model)).awaitTermination(300)
    assert captured
    assert _entries(tmp_path / "aub_ckpt") == []

    def fail(model, epoch):
        raise ValueError("sink failed")

    with pytest.raises(Exception, match="sink failed"):
        run(fail).awaitTermination(300)
    assert _entries(tmp_path / "aub_ckpt") == []


def test_engine_calls_leave_the_session_conf_unchanged(spark, sf_dir, tmp_path):
    """Each call sets nothing on the shared session: the state width is
    held only for a stream's start, and partition overwrite is a
    per-write option."""

    def conf() -> dict:
        return dict(spark.conf.getAll)

    before = conf()
    run_stream(stream_table(spark, sf_dir, "events"), "append").collect()
    assert conf() == before
    _start_and_stop_report(spark, tmp_path / "clicks")
    assert conf() == before
    jobs.q_sink_foreachbatch(spark, sf_dir).collect()
    assert conf() == before
    scans.q_sink_upsert(spark, sf_dir).collect()
    assert conf() == before


def test_package_has_one_stream_start():
    """``start_stream`` holds the package's only ``DataStreamWriter.start()``
    call, and nothing in the package picks the state store provider."""
    starts = []
    for path in PKG.rglob("*.py"):
        source = path.read_text(encoding="utf-8")
        assert "stateStore.providerClass" not in source, path
        starts += [
            f"{path.relative_to(PKG)}:{node.lineno}"
            for node in ast.walk(ast.parse(source))
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "start"
        ]
    assert len(starts) == 1 and starts[0].startswith(
        os.path.join("sources", "file_stream.py")
    ), starts
