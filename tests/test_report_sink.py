"""Report-sink parity: the reference's raport.pdf content (overall pie +
per-service dimension pies, Raport.py:101-213) assembled from the
streaming aggregate, with golden values on the hand-computed fixture."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources import (
    jdbc,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
    clickstream,
    report,
)
from test_clickstream_parity import CLICKS, USERS


@pytest.fixture(scope="module")
def histograms(spark):
    users = spark.createDataFrame(
        USERS, "user_id long, name string, email string, age int, "
        "city string, gender string"
    )
    clicks = spark.createDataFrame(CLICKS, "user_id long, service string")
    return clickstream.topic_histograms(
        clickstream.fan_out_messages(clicks, users)
    )


def test_report_model_overall_section(histograms):
    model = report.report_model(histograms)
    overall = {e["service"]: e for e in model["overall"]}
    # Raport.py:144-148: gitlab 3 clicks, kafka 2 (home dropped at ingest)
    assert overall["gitlab"]["clicks"] == 3
    assert overall["kafka"]["clicks"] == 2
    assert overall["gitlab"]["label"] == "gitlab (3)"  # :152 f-string
    assert abs(overall["gitlab"]["share"] - 3 / 5) < 1e-9  # :155 autopct
    assert "home" not in overall


def test_report_model_service_sections(histograms):
    model = report.report_model(histograms)
    services = {s["service"]: s["histograms"] for s in model["services"]}
    # gitlab ages 30,30,25 → histogram with share (Raport.py:176-193)
    age = dict((v, (c, s)) for v, c, s in services["gitlab"]["age"])
    assert age["30"][0] == 2 and abs(age["30"][1] - 2 / 3) < 1e-6
    assert set(services["gitlab"]) == {"age", "city", "gender"}


def test_report_stream_incremental(spark, histograms, sf_dir, tmp_path):
    """The 60 s loop as foreachBatch: AvailableNow over a file stream of
    the messages must produce the identical model as batch."""
    import os

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming.clickstream import (
        fan_out_messages,
    )

    users = spark.createDataFrame(
        USERS, "user_id long, name string, email string, age int, "
        "city string, gender string"
    )
    clicks = spark.createDataFrame(CLICKS, "user_id long, service string")
    msg_dir = os.path.join(str(tmp_path), "messages")
    fan_out_messages(clicks, users).write.parquet(msg_dir)

    stream = spark.readStream.schema("topic string, value string").parquet(
        msg_dir
    )
    captured: list = []
    svg_path = str(tmp_path / "raport.svg")
    svg_write = report.svg_sink(svg_path)

    def sink(model, epoch):
        captured.append(model)
        svg_write(model, epoch)

    q = report.run_report_stream(stream, sink, available_now=True)
    try:
        assert q.awaitTermination(300), "report run did not finish"
    finally:
        q.stop()  # drops the checkpoint the engine picked
    assert captured, "sink never invoked"
    batch_model = report.report_model(histograms)
    assert captured[-1] == batch_model
    # the artifact on disk is the render of the final epoch's model —
    # the full reference loop (stream → model → raport file) end-to-end
    with open(svg_path, encoding="utf-8") as fh:
        assert fh.read() == report.render_svg(batch_model)


def test_render_svg_matches_golden(histograms):
    """The rendered artifact is byte-stable: same model → same SVG.
    Golden generated from the hand-computed fixture; a diff here means
    the renderer's layout/labels/shares changed."""
    import os

    model = report.report_model(histograms)
    svg = report.render_svg(model)
    golden = os.path.join(os.path.dirname(__file__), "golden", "raport.svg")
    with open(golden, encoding="utf-8") as fh:
        assert svg == fh.read()


def test_render_svg_content_and_structure(histograms):
    import xml.dom.minidom

    model = report.report_model(histograms)
    svg = report.render_svg(model)
    xml.dom.minidom.parseString(svg)  # well-formed
    # Raport.py parity: title, count labels, per-service sections
    assert "Raport analizy" in svg
    assert "gitlab (3)" in svg and "kafka (2)" in svg  # :152 f-string
    assert "Raport serwisu: gitlab" in svg
    assert "60.0%" in svg  # gitlab share 3/5 (:155 autopct)
    assert "home" not in svg  # dropped at ingest


def test_svg_sink_writes_atomically(histograms, tmp_path):
    model = report.report_model(histograms)
    out = str(tmp_path / "raport.svg")
    report.svg_sink(out)(model, epoch_id=0)
    with open(out, encoding="utf-8") as fh:
        assert fh.read() == report.render_svg(model)
    assert not (tmp_path / "raport.svg.tmp").exists()


def _xref_offsets(pdf: bytes) -> dict[int, int]:
    """Parse the xref table: object number → byte offset. A mini
    validator — a malformed table breaks every real viewer."""
    startxref = int(pdf[pdf.rindex(b"startxref") :].split()[1])
    assert pdf[startxref:].startswith(b"xref")
    lines = pdf[startxref:].split(b"\n")
    first, count = map(int, lines[1].split())
    out = {}
    for i in range(count):
        off, _gen, kind = lines[2 + i].split()
        if kind == b"n":
            out[first + i] = int(off)
    return out


def test_render_pdf_structure_valid(histograms):
    """Structural validity: header, xref offsets that actually point at
    their objects, stream /Length values that match the bytes."""
    import re

    model = report.report_model(histograms)
    pdf = report.render_pdf(model)
    assert pdf.startswith(b"%PDF-1.4\n") and pdf.endswith(b"%%EOF\n")
    offsets = _xref_offsets(pdf)
    for num, off in offsets.items():
        assert pdf[off:].startswith(f"{num} 0 obj".encode())
    for m in re.finditer(rb"<< /Length (\d+) >>\nstream\n", pdf):
        n = int(m.group(1))
        assert pdf[m.end() + n : m.end() + n + 11] == b"\nendstream\n"
    # one title page + one page per service (Raport.py PdfPages layout)
    assert pdf.count(b"/Type /Page ") == 1 + len(model["services"])
    assert pdf.count(b"/Type /Pages ") == 1


def test_render_pdf_content_parity(histograms):
    """Raport.py parity inside the content streams: title, count
    labels, shares, per-service headings; home excluded. '(' is escaped
    in PDF strings, hence the backslashes."""
    model = report.report_model(histograms)
    pdf = report.render_pdf(model)
    assert "Raport analizy zachowa".encode() in pdf  # ż is re-encoded
    assert rb"gitlab \(3\)" in pdf and rb"kafka \(2\)" in pdf
    assert b"60.0%" in pdf  # gitlab share 3/5 (:155 autopct)
    assert b"Raport serwisu: gitlab" in pdf
    assert b"(home" not in pdf
    # ż (0xC0+16 in the fixed encoding table) appears in the title, and
    # the encoding object declares the glyph
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming.pdfcanvas import (
        encode_text,
    )

    assert encode_text(model["title"]) in pdf
    assert b"/zdotaccent" in pdf
    # pie slices: overall pie has 2 wedges; each 'h b' closes+paints one
    assert pdf.count(b"h b") >= 2


def test_render_pdf_matches_golden(histograms):
    """Byte-stable: same model → same PDF (no timestamps, fixed
    formatting). A diff means layout/labels/shares changed."""
    import os

    model = report.report_model(histograms)
    pdf = report.render_pdf(model)
    assert pdf == report.render_pdf(model)  # deterministic
    golden = os.path.join(os.path.dirname(__file__), "golden", "raport.pdf")
    with open(golden, "rb") as fh:
        assert pdf == fh.read()


def test_pdf_sink_writes_atomically(histograms, tmp_path):
    model = report.report_model(histograms)
    out = str(tmp_path / "raport.pdf")
    report.pdf_sink(out)(model, epoch_id=0)
    with open(out, "rb") as fh:
        assert fh.read() == report.render_pdf(model)
    assert not (tmp_path / "raport.pdf.tmp").exists()


def test_login_lookup_and_register(spark, tmp_path):
    users = spark.createDataFrame(
        [("Ala", "ala@x.pl", 30, "Gdansk", "Kobieta", "pw1")],
        jdbc.USERS_SCHEMA,
    )
    hit = jdbc.login_lookup(users, "ala@x.pl", "pw1").collect()
    assert len(hit) == 1 and hit[0].city == "Gdansk"
    miss = jdbc.login_lookup(users, "ala@x.pl", "wrong").collect()
    assert miss == []

    sink = str(tmp_path / "users_sink")
    jdbc.register_append(sink, users)
    jdbc.register_append(sink, users)
    assert spark.read.parquet(sink).count() == 2


def test_jdbc_reader_builder(spark):
    # construction-only (no DB in env): partitioned read requires bounds
    jdbc.jdbc_reader(spark, "jdbc:mysql://h/db", "users")
    with pytest.raises(ValueError):
        jdbc.jdbc_reader(
            spark, "jdbc:mysql://h/db", "users", partition_column="id"
        )


# ---------------------------------------------------------------------------
# The Python-built model against its declarative Spark-side oracle
# ---------------------------------------------------------------------------

_USERS_DDL = "user_id long, age int, city string, gender string"
_CLICKS_DDL = "user_id long, service string"


def _oracle_model(histograms):
    """The report model from ``clickstream.overall_clicks`` and
    ``clickstream.dimension_histograms``: Spark computes the totals and
    the rounded shares, Python only orders them (NULL values last)."""
    overall = {
        r.service: r.total_clicks
        for r in clickstream.overall_clicks(histograms).collect()
    }
    total = sum(overall.values())
    per_service: dict = {}
    dims = clickstream.dimension_histograms(histograms).collect()
    for r in sorted(
        dims,
        key=lambda r: (r.service, r.dimension, r.value is None, r.value or ""),
    ):
        per_service.setdefault(r.service, {}).setdefault(
            r.dimension, []
        ).append((r.value, r.cnt, r.share))
    return {
        "title": "Raport analizy zachowań użytkowników",
        "overall": [
            {"service": s, "clicks": c, "label": f"{s} ({c})", "share": c / total}
            for s, c in sorted(overall.items())
        ],
        "services": [
            {"service": s, "histograms": h} for s, h in sorted(per_service.items())
        ],
    }


def test_report_model_equals_declarative_oracle(histograms):
    assert report.report_model(histograms) == _oracle_model(histograms)


def test_share_rounds_like_spark_round(spark):
    """Spark's round(x, 6) on a double is HALF_UP on its shortest decimal
    string; ties at the 7th decimal (1 / 2,000,000 = 5e-07) round up."""
    from pyspark.sql import functions as F

    pairs = [(1, 8), (2, 3), (1, 3), (5, 16), (1, 2_000_000), (3, 2_000_000), (7, 7)]
    spark_shares = [
        r.share
        for r in spark.createDataFrame(pairs, "cnt long, total long")
        .select(F.round(F.col("cnt") / F.col("total"), 6).alias("share"))
        .collect()
    ]
    assert [report._share(c, t) for c, t in pairs] == spark_shares
    assert report._share(1, 2_000_000) == 0.000001


_user_strategy = st.tuples(
    st.one_of(st.none(), st.integers(18, 70)),
    st.one_of(st.none(), st.sampled_from(["Gdansk", "Sopot", "Gdynia"])),
    st.one_of(st.none(), st.sampled_from(["Kobieta", "Mężczyzna"])),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(_user_strategy, min_size=1, max_size=4),
    # ids 0-5 against at most 4 users: some clicks have no user
    clicks=st.lists(
        st.tuples(
            st.integers(0, 5), st.sampled_from(["gitlab", "kafka", "git", "home"])
        ),
        max_size=30,
    ),
)
def test_report_model_matches_oracle_on_random_logs(spark, users, clicks):
    users_df = spark.createDataFrame(
        [(i, *u) for i, u in enumerate(users)], _USERS_DDL
    )
    hist = clickstream.topic_histograms(
        clickstream.fan_out_messages(
            spark.createDataFrame(clicks, _CLICKS_DDL), users_df
        )
    )
    assert report.report_model(hist) == _oracle_model(hist)


# ---------------------------------------------------------------------------
# NULL demographics, state width and the users side of the stream
# ---------------------------------------------------------------------------

_NULL_USERS = [
    (1, 30, "Gdansk", "Kobieta"),
    (2, 25, "Sopot", None),  # the reference's register INSERT drops gender
    (3, None, None, "Mężczyzna"),
]
_NULL_CLICKS = [(1, "gitlab"), (2, "gitlab"), (2, "gitlab"), (3, "kafka"), (2, "home")]


def _write_clicks(directory, index: int, clicks) -> None:
    """One JSON-lines click file, renamed into place so a file source
    never lists it half written."""
    import json
    import os

    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".clicks-{index}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        for uid, service in clicks:
            fh.write(json.dumps({"user_id": uid, "service": service}) + "\n")
    os.replace(tmp, os.path.join(directory, f"clicks-{index}.json"))


def _batch_model(spark, clicks_dir, users):
    clicks = spark.read.schema(_CLICKS_DDL).json(str(clicks_dir))
    return report.report_model(
        clickstream.topic_histograms(clickstream.fan_out_messages(clicks, users))
    )


def _run_available_now(spark, clicks_dir, users, ckpt, files_per_epoch=None):
    reader = spark.readStream.schema(_CLICKS_DDL)
    if files_per_epoch is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_epoch)
    stream = reader.json(str(clicks_dir))
    captured: list = []
    q = report.run_report_stream(
        clickstream.fan_out_messages(stream, users),
        lambda model, epoch: captured.append(model),
        available_now=True,
        checkpoint_dir=str(ckpt),
    )
    return q, captured


def test_null_demographics_stream_equals_batch(spark, tmp_path):
    """A NULL gender, age or city is a histogram value like any other:
    counted, sorted after the non-NULL values, kept as ``None`` in the
    model and rendered as ``NULL_LABEL``. The streamed model equals the
    batch model."""
    users = spark.createDataFrame(_NULL_USERS, _USERS_DDL)
    _write_clicks(tmp_path / "clicks", 0, _NULL_CLICKS)
    q, captured = _run_available_now(
        spark, tmp_path / "clicks", users, tmp_path / "ckpt"
    )
    assert q.awaitTermination(300), "report run did not finish"
    assert q.exception() is None
    batch = _batch_model(spark, tmp_path / "clicks", users)
    assert captured and captured[-1] == batch
    gitlab = {s["service"]: s["histograms"] for s in batch["services"]}["gitlab"]
    assert gitlab["gender"] == [("Kobieta", 1, 0.333333), (None, 2, 0.666667)]
    kafka = {s["service"]: s["histograms"] for s in batch["services"]}["kafka"]
    assert kafka["age"] == [(None, 1, 1.0)]
    assert f"{report.NULL_LABEL} (2)" in report.render_svg(batch)
    # '(' is escaped in PDF strings
    assert report.NULL_LABEL.encode() + rb" \(2\)" in report.render_pdf(batch)


def test_report_stream_state_is_one_partition(spark, tmp_path):
    """The report's aggregate runs at ``REPORT_STATE_WIDTH`` (1) state
    partitions, and starting it leaves the session's shuffle width as it
    was."""
    import os

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    users = spark.createDataFrame(_NULL_USERS, _USERS_DDL)
    _write_clicks(tmp_path / "clicks", 0, _NULL_CLICKS)
    q, captured = _run_available_now(
        spark, tmp_path / "clicks", users, tmp_path / "ckpt"
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert q.awaitTermination(300), "report run did not finish"
    assert captured
    state = os.path.join(str(tmp_path / "ckpt"), "state", "0")
    assert [d for d in os.listdir(state) if d.isdigit()] == ["0"]
    assert report.REPORT_STATE_WIDTH == 1


def _rdd_scan_lineages(plan) -> list[str]:
    """Lineage (``RDD.toDebugString``) of every RDD scan of a JVM
    physical plan."""
    leaves = plan.collectLeaves()
    return [
        leaves.apply(i).rdd().toDebugString()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "RDDScanExec"
    ]


def test_in_memory_users_are_read_from_their_checkpoint(spark, tmp_path):
    """``createDataFrame`` users are a Python RDD. The stream broadcasts
    them from their local checkpoint, so no epoch re-runs the Python
    job; the batch plan keeps the Python RDD."""
    users = spark.createDataFrame(_NULL_USERS, _USERS_DDL)
    (lineage,) = _rdd_scan_lineages(users._jdf.queryExecution().sparkPlan())
    assert "PythonRDD" in lineage
    for i in range(2):  # two files, two epochs
        _write_clicks(tmp_path / "clicks", i, _NULL_CLICKS)
    q, captured = _run_available_now(
        spark, tmp_path / "clicks", users, tmp_path / "ckpt", files_per_epoch=1
    )
    assert q.awaitTermination(300), "report run did not finish"
    assert len(captured) == 2
    epoch_plan = q._jsq.streamingQuery().lastExecution().executedPlan()
    (lineage,) = _rdd_scan_lineages(epoch_plan)
    assert "LocalCheckpointRDD" in lineage and "PythonRDD" not in lineage
    assert captured[-1] == _batch_model(spark, tmp_path / "clicks", users)


def test_report_stream_joins_users_registered_after_start(spark, tmp_path):
    """JDBC-backed users are re-read every epoch: a user registered
    after the stream started is counted once their clicks arrive. (A
    static parquet read would not do: it fixes its file listing when
    the frame is created.)"""
    import os
    import tempfile

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_url,
        jdbc_reader,
        jdbc_writer,
    )

    # keep Derby's log out of the working directory (a no-op once the
    # engine has booted)
    spark._jvm.System.setProperty(
        "derby.stream.error.file",
        os.path.join(tempfile.gettempdir(), "derby.log"),
    )
    url = derby_url(str(tmp_path / "users_db"))
    coltypes = "city VARCHAR(64), gender VARCHAR(16)"

    def register(rows, mode):
        jdbc_writer(
            spark.createDataFrame(rows, _USERS_DDL), url, "users",
            mode=mode, driver=DERBY_DRIVER, column_types=coltypes,
        )

    register([(1, 30, "Gdansk", "Kobieta")], "overwrite")
    users = jdbc_reader(spark, url, "users", driver=DERBY_DRIVER).load()
    clicks_dir = tmp_path / "clicks"
    _write_clicks(clicks_dir, 0, [(1, "gitlab"), (2, "gitlab")])
    stream = spark.readStream.schema(_CLICKS_DDL).json(str(clicks_dir))
    captured: list = []
    q = report.run_report_stream(
        clickstream.fan_out_messages(stream, users),
        lambda model, epoch: captured.append(model),
        trigger_seconds=0,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        # user 2 is not registered yet: their click joins nothing
        assert [e["clicks"] for e in captured[-1]["overall"]] == [1]
        register([(2, 41, "Sopot", "Mężczyzna")], "append")
        _write_clicks(clicks_dir, 1, [(2, "kafka"), (2, "kafka")])
        q.processAllAvailable()
    finally:
        q.stop()
    assert q.exception() is None
    model = captured[-1]
    assert {e["service"]: e["clicks"] for e in model["overall"]} == {
        "gitlab": 1, "kafka": 2,
    }
    kafka = {s["service"]: s["histograms"] for s in model["services"]}["kafka"]
    assert kafka["gender"] == [("Mężczyzna", 2, 1.0)]


def test_report_restart_resumes_from_its_checkpoint(spark, tmp_path):
    """Stopped after its first epoch and restarted (AvailableNow) on the
    same checkpoint, the report resumes where it stopped: the final
    model equals the batch model and the generator's ``Counter`` —
    nothing counted twice, nothing lost."""
    import time
    from collections import Counter

    users = spark.createDataFrame(_NULL_USERS, _USERS_DDL)
    clicks_dir, ckpt = tmp_path / "clicks", tmp_path / "ckpt"
    files = [
        [(1, "gitlab"), (2, "kafka")],
        [(2, "gitlab"), (3, "kafka"), (2, "home")],
        [(1, "kafka"), (9, "gitlab")],  # user 9 is unknown
        [(3, "gitlab"), (3, "gitlab")],
        [(1, "git"), (2, "git")],
        [(2, "kafka"), (1, "gitlab")],
    ]
    for i, clicks in enumerate(files):
        _write_clicks(clicks_dir, i, clicks)
    stream = (
        spark.readStream.schema(_CLICKS_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(str(clicks_dir))
    )
    first: list = []
    q = report.run_report_stream(
        clickstream.fan_out_messages(stream, users),
        lambda model, epoch: first.append(model),
        trigger_seconds=0,
        checkpoint_dir=str(ckpt),
    )
    try:
        deadline = time.monotonic() + 120
        while not first and time.monotonic() < deadline:
            time.sleep(0.02)
    finally:
        q.stop()
    assert q.exception() is None and first

    def overall(model) -> dict:
        return {e["service"]: e["clicks"] for e in model["overall"]}

    want = Counter(
        service
        for clicks in files
        for uid, service in clicks
        if service != "home" and uid in {u[0] for u in _NULL_USERS}
    )
    # the first run stopped part-way, so the restart has files to read
    assert sum(overall(first[-1]).values()) < sum(want.values())

    q, resumed = _run_available_now(
        spark, clicks_dir, users, ckpt, files_per_epoch=1
    )
    assert q.awaitTermination(300), "report restart did not finish"
    assert q.exception() is None and resumed
    assert resumed[-1] == _batch_model(spark, clicks_dir, users)
    assert overall(resumed[-1]) == dict(want)
