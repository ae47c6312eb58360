"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Builds its inputs from ``--seed``,
runs the workload on a ``local[nproc]`` Spark session in this one
process, checks the outputs, and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).  The line
before it carries the host facts of the run.  Everything the run writes
goes under ``.perfbench_work/`` in the checkout and is removed at exit,
except the spans of a traced run (``.perfbench_work/spans/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARD_LIMIT_S = 170  # the run must end within 180 s


def _redirect_temp(work: str, cpus: int) -> None:
    """Point every temp path of the engine, Spark and Python
    into the run's work dir, and size Spark to this host."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "jtmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # the run's settings are the benchmark's own
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "aub_warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # every JVM, spark-submit's launcher included, would otherwise keep
    # its perf counters under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _watchdog(work: str) -> threading.Timer:
    """Kill the run (no result line) if it would overrun its time limit."""

    def expire() -> None:
        from harness import reap_descendants

        print(f"perfbench: run exceeded {HARD_LIMIT_S} s", file=sys.__stderr__)
        reap_descendants(timeout=0)  # kill them all now, and wait
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(HARD_LIMIT_S, expire)
    timer.daemon = True
    return timer


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import analyzing_user_behavior_on_a_website_using_apache_kafka_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not found under {ROOT}: {exc}", file=sys.stderr)
        return 2

    import harness
    import hygiene

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _redirect_temp(work, cpus)
    timer = _watchdog(work)
    timer.start()
    h = harness.Harness(work, args.seed, args.seconds, bool(args.trace))
    try:
        workloads.WORKLOADS[args.workload](h)
        result = h.finish()
    finally:
        h.stop_spark()
        sys.stderr = sys.__stderr__
        shutil.rmtree(work, ignore_errors=True)
        if args.trace:
            spans = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(spans, exist_ok=True)
            h.tracer.dump(os.path.join(spans, f"{args.workload}-seed{args.seed}.json"))
        timer.cancel()
    for line in h.failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    facts = hygiene.host_facts(args.seed, cpus, h.java)
    facts["workload"] = args.workload
    facts["trace"] = args.trace
    print(json.dumps({"run": facts}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
