"""What every workload shares: the Spark session's life, timed ops with
temp-dir hygiene, the tracer's patch points, and the result line."""

from __future__ import annotations

import contextlib
import os
import signal
import sys
import time
import traceback
from dataclasses import dataclass, field

import checks
import hygiene
import sparkmetrics
from tracing import Tracer

PKG = "analyzing_user_behavior_on_a_website_using_apache_kafka_spark"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "first_result_s": "s",
    "peak_rss_mb": "MB",
}

BEHAVIOR_QUERIES = (
    "q_funnel_conversion", "q_event_attribution", "q_cohort_retention",
    "q_event_transitions", "q_event_dwell", "q_path_topk",
    "q_growth_accounting", "q_event_rfm",
)
# One stateful query: session windows over the whole event log, large
# state in one batch.  The other four (dedup, stream-stream, stream-static,
# custom state) do not fit the time budget (NOTES.md, "Why two workloads").
STATEFUL_QUERIES = ("q_stream_session",)
DEDUP_QUERIES = (
    "q_dedup_exact", "q_dedup_near", "q_dedup_simhash", "q_sim_ann",
    "q_text_tfidf", "q_dedup_ngram_jaccard",
)


def _per_layer() -> dict[str, str]:
    names = {
        "session.get_spark_s": "s",
        "session.first_action_s": "s",
        "report.report_model_s": "s",
        "report.render_pdf_s": "s",
        "report.epochs": "count",
        "report.useful_epoch_ratio": "ratio",
        "report.freshness_p90_s": "s",
        "spark.jobs_per_epoch": "count",
        "stream.trigger_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.latest_offset_ms": "ms",
        "stream.query_planning_ms": "ms",
        "stream.wal_commit_ms": "ms",
        "stream.input_rows": "count",
        "state.commit_ms": "ms",
        "state.partitions": "count",
        "state.rows_total": "count",
        "state.memory_bytes": "bytes",
        "clickstream.rescan_s": "s",
        "clickstream.messages_per_click": "count",
        "file_stream.stream_table_s": "s",
        "file_stream.run_stream_s": "s",
        "file_stream.run_stream_retries": "count",
        "catalog.load_table_s": "s",
    }
    names.update({f"behavior.{q}_s": "s" for q in BEHAVIOR_QUERIES})
    names.update({f"stateful.{q}_s": "s" for q in STATEFUL_QUERIES})
    names.update({f"dedup.{q}_s": "s" for q in DEDUP_QUERIES})
    names.update({f"dedup.{q}_rows": "count" for q in DEDUP_QUERIES})
    names.update(
        {
            "spark.tasks_per_op": "count",
            "spark.failed_tasks": "count",
            "gen.late_p90_s": "s",
            "tmp_bytes_left": "bytes",
            "trace.overhead_ratio": "ratio",
        }
    )
    return names


PER_LAYER = _per_layer()

# (module, attribute) -> span name.  Every engine module that bound the
# function by name gets the wrapper, since ``from x import f`` copies it.
TRACED_FUNCTIONS = {
    ("catalog", "load_table"): "catalog.load_table",
    ("sources.file_stream", "stream_table"): "file_stream.stream_table",
    ("sources.file_stream", "run_stream"): "file_stream.run_stream",
    ("streaming.clickstream", "fan_out_messages"): "clickstream.fan_out_messages",
    ("streaming.clickstream", "topic_histograms"): "clickstream.topic_histograms",
    ("streaming.report", "report_model"): "report.report_model",
    ("streaming.report", "render_pdf"): "report.render_pdf",
}


class _StderrCounter:
    """Passes stderr through and counts ``run_stream``'s retry notice."""

    NOTICE = "run_stream: retrying once"

    def __init__(self, inner) -> None:
        self.inner = inner
        self.retries = 0

    def write(self, text: str) -> int:
        self.retries += text.count(self.NOTICE)
        return self.inner.write(text)

    def flush(self) -> None:
        self.inner.flush()

    def __getattr__(self, name):
        return getattr(self.inner, name)


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    rows: int = 0
    digest: str | None = None
    groups: list[str] = field(default_factory=list)


class Harness:
    """One benchmark run: owns the Spark session, the tracer and the
    op ledger.  ``traced`` selects the per-layer run."""

    def __init__(self, work: str, seed: int, seconds: int, traced: bool) -> None:
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.progress = sparkmetrics.ProgressLog()
        self.ops: list[Op] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {name: 0.0 for name in PER_LAYER}
        self.spark = None
        self.java = "unknown"
        self.rss = hygiene.RssSampler()
        self._op_seq = 0
        self.stderr = _StderrCounter(sys.stderr)
        sys.stderr = self.stderr

    # -- engine modules -------------------------------------------------
    def module(self, dotted: str):
        import importlib

        return importlib.import_module(f"{PKG}.{dotted}")

    def install_tracing(self) -> None:
        """Wrap the traced functions wherever the engine bound them."""
        import importlib

        registry = importlib.import_module(f"{PKG}.registry")
        registry.all_queries()  # import every query module first
        for (mod, attr), span in TRACED_FUNCTIONS.items():
            original = getattr(self.module(mod), attr)
            for name, m in list(sys.modules.items()):
                if name.startswith(PKG) and getattr(m, attr, None) is original:
                    self.tracer.patch(m, attr, span)

    # -- session ---------------------------------------------------------
    def start_spark(self) -> None:
        """``get_spark`` then a first action; both timed (``setup_s``).
        Memory is sampled from here until :meth:`stop_spark`."""
        session = self.module("session")
        self.rss.start()
        # A fixed, pre-touched heap (as a production JVM service runs):
        # peak RSS then reads what lives outside the heap (Python, workers,
        # native state store, metaspace) instead of where GC happened to
        # stop growing the heap in this run.
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        extra = {
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'jtmp')} "
                f"-Xms{heap} -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", cpus=self.cpus, extra_conf=extra)
        t1 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.java = self.spark._jvm.java.lang.System.getProperty("java.version")
        self.e2e["setup_s"] = t2 - t0
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.first_action_s"] = t2 - t1
        self.spark.streams.addListener(self.progress)

    def stop_spark(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        try:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - last resort below
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None
            reap_descendants()
            self.rss.stop()
            self.e2e["peak_rss_mb"] = self.rss.peak / 2**20

    # -- ops -------------------------------------------------------------
    def next_op(self, label: str) -> str:
        self._op_seq += 1
        return f"op{self._op_seq}-{label}"

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check as an op; a mismatch is a failed op."""
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def run_query(self, name: str, fn, sf_dir: str, traced: bool) -> Op:
        """One op: build the query, collect its rows (timed), then hash
        the rows and remove the temp entries the op created (untimed)."""
        sc = self.spark.sparkContext
        op_id = self.next_op(name)
        self.attempted += 1
        before = hygiene.snapshot(self.tmp)
        _, runs_before = self.progress.snapshot()
        self.tracer.enabled = traced
        self.tracer.op = op_id
        sc.setJobGroup(op_id, name)
        rows, columns, ok = [], [], True
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}") if traced else contextlib.nullcontext():
                df = fn(self.spark, sf_dir)
                rows = df.collect()
                columns = df.columns
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            self.fail(f"{name}: {traceback.format_exc(limit=3).splitlines()[-1]}")
        seconds = time.perf_counter() - t0
        self.tracer.enabled = False
        self.tracer.op = None
        sc.setJobGroup(None, None)
        _, runs_after = self.progress.snapshot()
        hygiene.remove(hygiene.created(before, hygiene.snapshot(self.tmp)))
        op = Op(
            name, seconds, ok, rows=len(rows),
            digest=checks.row_hash(columns, rows) if ok else None,
            groups=[op_id] + runs_after[len(runs_before):],
        )
        self.ops.append(op)
        return op

    def op_tasks(self, ops: list[Op]) -> tuple[int, int]:
        sc = self.spark.sparkContext
        jobs = sparkmetrics.jobs_in_groups(sc, [g for o in ops for g in o.groups])
        return sparkmetrics.task_counts(sc, jobs)

    def tasks_for_jobs(self, jobs: list[int]) -> tuple[int, int]:
        return sparkmetrics.task_counts(self.spark.sparkContext, jobs)

    # -- result ----------------------------------------------------------
    def finish(self) -> dict:
        self.layer["file_stream.run_stream_retries"] = self.stderr.retries
        self.layer["tmp_bytes_left"] = hygiene.tree_bytes(self.tmp)
        failed = len(self.failures)
        metrics = (
            {n: {"value": self.layer[n], "unit": u} for n, u in PER_LAYER.items()}
            if self.traced
            else {n: {"value": self.e2e[n], "unit": u} for n, u in END_TO_END.items()}
        )
        return {
            "correct": failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": failed,
            "metrics": metrics,
        }


def reap_descendants(timeout: float = 10.0) -> None:
    """Wait for every child process to end; kill what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        left = hygiene.descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)
