"""Launch rules of the driver JVM's class-data-sharing archive
(``session.cds_plan``): the archive key, the conf-dir rule, the lock and
the promotion of a finished recording — checked on fake files, without a
JVM — plus one launch on a corrupt archive in a subprocess."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JUNK = b"\x00" * 4096


def _write(path, data: bytes = b"") -> str:
    path = str(path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return path


def _dead_pid() -> int:
    proc = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                          capture_output=True, text=True, check=True)
    return int(proc.stdout)


def test_key_changes_when_the_jars_or_the_java_runtime_change(tmp_path):
    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    _write(home / "jars" / "a.jar", b"a")
    _write(home / "jars" / "notes.txt", b"not on the classpath")
    java = _write(jdk / "bin" / "java", b"java")
    _write(jdk / "release", b'JAVA_VERSION="17.0.1"')
    key = session.cds_key(str(home), java, True)
    assert session.cds_key(str(home), java, True) == key

    _write(home / "jars" / "notes.txt", b"edited")
    assert session.cds_key(str(home), java, True) == key
    _write(home / "jars" / "b.jar", b"b")
    with_b = session.cds_key(str(home), java, True)
    assert with_b != key
    _write(home / "jars" / "b.jar", b"b, rebuilt")
    assert session.cds_key(str(home), java, True) != with_b
    _write(jdk / "release", b'JAVA_VERSION="17.0.2"')
    new_runtime = session.cds_key(str(home), java, True)
    assert new_runtime != with_b
    _write(jdk / "bin" / "java", b"a patched java")
    assert session.cds_key(str(home), java, True) != new_runtime
    assert session.cds_key(str(home), java, False) != session.cds_key(
        str(home), java, True
    )


def test_key_differs_for_two_cds_dirs(tmp_path):
    """The conf dir under the CDS dir is on the launcher's classpath, so
    a checkout copied with its cache keys its archives apart."""
    a, b = tmp_path / "a" / "cds", tmp_path / "b" / "cds"
    assert session.launch_key({}, str(a)) == session.launch_key({}, str(a))
    assert session.launch_key({}, str(a)) != session.launch_key({}, str(b))
    (tmp_path / "link").symlink_to(tmp_path / "a")
    link = tmp_path / "link" / "cds"
    assert session.launch_key({}, str(link)) == session.launch_key({}, str(a))


def test_compressed_oops_follow_the_heap_size():
    assert session._compressed_oops("4023m")
    assert session._compressed_oops("1g") and session._compressed_oops("1gb")
    assert session._compressed_oops("2048")  # bare sizes are MiB
    assert not session._compressed_oops("32g")
    assert not session._compressed_oops("64G")


def test_magic_marks_a_complete_archive(tmp_path):
    assert session.is_complete_archive(_write(tmp_path / "a", session.CDS_MAGIC + JUNK))
    assert not session.is_complete_archive(_write(tmp_path / "b", JUNK))
    assert not session.is_complete_archive(_write(tmp_path / "c"))
    assert not session.is_complete_archive(str(tmp_path / "missing"))
    # 0xf00baba8 as HotSpot writes it, little-endian
    assert session.CDS_MAGIC == bytes.fromhex("a8ab0bf0")


def test_lock_is_exclusive_and_recovered_from_a_dead_owner(tmp_path):
    lock = str(tmp_path / "k.lock")
    assert session.take_lock(lock)
    assert open(lock).read() == str(os.getpid())
    assert not session.take_lock(lock)  # held by a live process: this one

    _write(lock, str(_dead_pid()).encode())
    assert session.take_lock(lock)
    assert open(lock).read() == str(os.getpid())

    _write(lock, b"")  # its owner died between create and write
    assert session.take_lock(lock)


def test_settle_promotes_a_finished_recording_and_drops_the_rest(tmp_path):
    d, key = tmp_path, "k1"
    bad = _write(d / f"{key}.jsa", JUNK)
    done = _write(d / f"{key}.aa.part", session.CDS_MAGIC + JUNK)
    cut = _write(d / f"{key}.bb.part", JUNK)  # killed while recording
    other = _write(d / "k2.cc.part", JUNK)
    _write(d / f"{key}.lock", str(os.getpid()).encode())
    # a live recorder's files are left alone; a bad archive never is
    assert session.settle_archive(str(d), key) is None
    assert not os.path.exists(bad)
    assert os.path.exists(done) and os.path.exists(cut)

    _write(d / f"{key}.lock", str(_dead_pid()).encode())
    archive = session.settle_archive(str(d), key)
    assert archive == str(d / f"{key}.jsa")
    assert open(archive, "rb").read() == session.CDS_MAGIC + JUNK
    assert not os.path.exists(done) and not os.path.exists(cut)
    assert os.path.exists(other)  # another key's recording
    assert session.settle_archive(str(d), key) == archive


def test_plan_records_once_then_maps(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "no-conf-dir"))
    cds = str(tmp_path / "cds")
    mode, part = session.cds_plan(cds, {})
    assert mode == "recording" and part.endswith(".part")
    assert session.cds_plan(cds, {}) == ("off", "")  # this process records
    _write(part, session.CDS_MAGIC + JUNK)
    key = session.launch_key({}, cds)
    session._write_owner(os.path.join(cds, f"{key}.lock"), _dead_pid())
    assert session.cds_plan(cds, {}) == ("mapped", os.path.join(cds, f"{key}.jsa"))


def test_plan_drops_the_files_of_dead_keys(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "no-conf-dir"))
    cds = tmp_path / "cds"
    key = session.launch_key({}, str(cds))
    own = _write(cds / f"{key}.jsa", session.CDS_MAGIC + JUNK)
    _write(cds / f"{key}.lock", str(_dead_pid()).encode())
    dead = [
        _write(cds / "k2.jsa", session.CDS_MAGIC + JUNK),
        _write(cds / "k2.aa.part", JUNK),
        _write(cds / "k2.lock", str(_dead_pid()).encode()),
        _write(cds / "k3.jsa", session.CDS_MAGIC + JUNK),  # no lock at all
    ]
    live = [
        _write(cds / "k4.jsa", session.CDS_MAGIC + JUNK),
        _write(cds / "k4.bb.part", JUNK),
        _write(cds / "k4.lock", str(os.getpid()).encode()),
    ]
    assert session.cds_plan(str(cds), {}) == ("mapped", own)
    assert [p for p in dead if os.path.exists(p)] == []
    assert all(os.path.exists(p) for p in live)
    assert os.path.exists(cds / f"{key}.lock") and os.path.isdir(cds / "conf")


def _launch_options(monkeypatch, mode: str, path: str, extra_conf: dict):
    """What ``_launch`` hands the builder, and ``SPARK_CONF_DIR`` at the
    gateway launch, with ``getOrCreate`` replaced by a recorder."""
    seen = {}

    def record(builder):
        seen["options"] = dict(builder._options)
        seen["conf_dir"] = os.environ.get("SPARK_CONF_DIR")
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    assert session._launch("t", 2, extra_conf, mode, path) == "session"
    return seen["options"], seen["conf_dir"]


def test_template_only_conf_dir_gives_the_cds_flags(tmp_path, monkeypatch):
    conf_dir = tmp_path / "conf"
    _write(conf_dir / "spark-defaults.conf.template", b"# spark.master x")
    _write(conf_dir / "log4j2.properties.template")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    env = dict(os.environ)
    cds = str(tmp_path / "cds")
    mode, part = session.cds_plan(cds, {})
    assert mode == "recording"
    options, launch_conf_dir = _launch_options(monkeypatch, mode, part, {})
    assert options["spark.driver.defaultJavaOptions"] == (
        f"-XX:ArchiveClassesAtExit={part} "
        f"-XX:ErrorFile={cds}/hs_err_pid%p.log -Xlog:cds*=off"
    )
    assert launch_conf_dir == os.path.join(cds, "conf")
    assert os.listdir(launch_conf_dir) == []
    assert dict(os.environ) == env


def test_live_conf_file_turns_cds_off(tmp_path, monkeypatch):
    conf_dir = tmp_path / "conf"
    _write(conf_dir / "spark-env.sh.template")
    _write(conf_dir / "spark-defaults.conf", b"spark.executor.cores 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    assert session.cds_plan(str(tmp_path / "cds"), {}) == ("off", "")
    options, launch_conf_dir = _launch_options(monkeypatch, "off", "", {})
    assert "spark.driver.defaultJavaOptions" not in options
    assert launch_conf_dir == str(conf_dir)
    assert not os.path.exists(tmp_path / "cds")


def test_caller_default_java_options_are_kept(tmp_path, monkeypatch):
    archive = str(tmp_path / "cds" / "k.jsa")
    options, _ = _launch_options(
        monkeypatch, "mapped", archive,
        {"spark.driver.defaultJavaOptions": "-Dcaller.flag=1 -Xss4m"},
    )
    assert options["spark.driver.defaultJavaOptions"] == (
        f"-XX:SharedArchiveFile={archive} "
        f"-XX:ErrorFile={tmp_path}/cds/hs_err_pid%p.log -Xlog:cds*=off "
        "-Dcaller.flag=1 -Xss4m"
    )


_LAUNCH = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {root!r})
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import session

    session.CDS_DIR = {cache!r}
    conf = {{"spark.driver.memory": "512m",
             "spark.driver.defaultJavaOptions": "-Dcds.test.probe=1"}}
    key = session.launch_key(conf, session.CDS_DIR)
    os.makedirs(session.CDS_DIR)
    archive = os.path.join(session.CDS_DIR, key + ".jsa")
    with open(archive, "wb") as f:
        f.write({content!r})
    # the parent holds the key's lock, so this JVM records nothing
    with open(os.path.join(session.CDS_DIR, key + ".lock"), "w") as f:
        f.write(str(os.getppid()))
    env = dict(os.environ)
    spark = session.get_spark("cds_corrupt", cpus=2, extra_conf=conf)
    total = spark.range(1000).selectExpr("sum(id)").collect()[0][0]
    jvm = spark.sparkContext._jvm
    print(json.dumps({{
        "total": total,
        "mode": session.cds_mode(spark),
        "archive": archive,
        "archive_left": os.path.exists(archive),
        "probe": jvm.java.lang.System.getProperty("cds.test.probe"),
        "env_changed": sorted(
            k for k in env.keys() | os.environ.keys()
            if env.get(k) != os.environ.get(k)
        ),
    }}))
    spark.stop()
    """
)


@pytest.mark.parametrize(
    "content",
    [JUNK, session.CDS_MAGIC + JUNK],
    ids=["no-magic", "magic-then-garbage"],
)
def test_session_starts_on_a_corrupt_archive(tmp_path, content):
    """A launch on a corrupt file at the archive path still starts and
    answers, leaves ``os.environ`` as it found it, and removes the file."""
    script = _LAUNCH.format(root=ROOT, cache=str(tmp_path / "cache"), content=content)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not list(tmp_path.glob("hs_err_pid*.log"))  # none in the cwd
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["total"] == 499500
    assert out["probe"] == "1"
    assert not out["archive_left"]
    if content.startswith(session.CDS_MAGIC):
        # launched on it, and the JVM fell back to a plain start
        assert out["mode"] == ["off", out["archive"]]
    else:
        assert out["mode"] == ["off", None]
    # pyspark's SparkContext itself exports these two; nothing else moved
    assert set(out["env_changed"]) <= {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}


@pytest.mark.parametrize("mode", ["mapped", "recording"])
def test_a_jvm_that_dies_on_its_cds_flags_is_relaunched_without(
    tmp_path, monkeypatch, mode
):
    """A JVM that exits before handing over its port (a damaged archive
    can crash it) is launched once more, plainly. The archive it died on
    and its crash log are removed; a recording gives its lock back."""
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError

    path = _write(tmp_path / ("k.jsa" if mode == "mapped" else "k.aa.part"), b"x")
    lock = _write(tmp_path / "k.lock", str(os.getpid()).encode())
    crash_log = _write(tmp_path / "hs_err_pid4242.log", b"SIGBUS")
    fake = SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))
    launches = []

    def launch(app_name, cpus, extra_conf, launch_mode, launch_path):
        launches.append(launch_mode)
        if launch_mode != "off":
            raise PySparkRuntimeError(
                errorClass="JAVA_GATEWAY_EXITED", messageParameters={}
            )
        return fake

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "cds_plan", lambda cds_dir, conf: (mode, path))
    monkeypatch.setattr(session, "_launch", launch)
    assert session.get_spark("t", cpus=2) is fake
    assert launches == [mode, "off"]
    assert not os.path.exists(crash_log)
    if mode == "mapped":
        assert not os.path.exists(path) and os.path.exists(lock)
    else:
        assert not os.path.exists(lock)
