"""Per-op fixed costs that every query pays before its first row:
schema inference on a table load, the LSH coefficient-matrix build, and
the compilation of generated classes that a too-small codegen cache
evicts. Each cut must leave the output exactly as it was."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
    load_table,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions import (
    similarity,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_in_group(spark, action) -> list[int]:
    """Ids of the Spark jobs ``action()`` runs, read from the status
    tracker through a job group. The tracker is fed asynchronously, so
    a marker job in a second group is awaited first: once it shows,
    every earlier job has been recorded."""
    sc = spark.sparkContext
    group, marker = f"g_{uuid.uuid4().hex}", f"m_{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "measured")
        action()
        sc.setJobGroup(marker, "marker")
        spark.range(1).count()
        deadline = time.monotonic() + 30
        while not sc.statusTracker().getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never recorded"
            time.sleep(0.05)
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def test_second_table_load_runs_no_spark_job(spark, tmp_path):
    """The first load of a file infers its schema in a Spark job; a
    second load of the same file reuses that schema and runs none."""
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
        tmp_path / "region.parquet",
    )

    def load():
        return load_table(spark, str(tmp_path), "region")

    assert _jobs_in_group(spark, load), "the first load infers in a job"
    assert _jobs_in_group(spark, load) == []
    assert load().count() == 2


def test_table_rewritten_with_an_extra_column_reads_its_new_schema(
    spark, tmp_path
):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey"
    ]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1, 2], "r_comment": ["x", "y", "z"]}),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert sorted(map(tuple, df.collect())) == [(0, "x"), (1, "y"), (2, "z")]


def _scalar_coeff_matrix(dim: int) -> np.ndarray:
    """The coefficient matrix built one scalar at a time: `_plane_coeff`
    per entry, then Gram-Schmidt with sequential Python-float sums."""
    T, P = similarity._MAX_TABLES, similarity._MAX_PLANES
    N = similarity._N_PLANES
    m = np.empty((dim, T * P), dtype=np.float64)
    for t in range(T):
        for p in range(P):
            for d in range(dim):
                m[d, t * P + p] = similarity._plane_coeff(t, p, d)

    def dot(a, b):
        acc = 0.0
        for i in range(dim):
            acc += float(a[i]) * float(b[i])
        return acc

    for t in range(T):
        base = t * P
        for p in range(N, min(P, dim)):
            v = [float(x) for x in m[:, base + p]]
            for q in range(p):
                u = m[:, base + q]
                coeff = dot(v, u) / dot(u, u)
                for i in range(dim):
                    v[i] -= coeff * float(u[i])
            if dot(v, v) > 1e-18:
                m[:, base + p] = v
    return m


def test_coeff_matrix_is_bit_identical_to_the_scalar_build(monkeypatch):
    monkeypatch.setattr(similarity, "_COEFF_CACHE", {})
    for dim in (3, 8, 17, 64):
        got = similarity._coeff_matrix(dim)
        assert got.shape == (
            dim, similarity._MAX_TABLES * similarity._MAX_PLANES
        )
        assert got.tobytes() == _scalar_coeff_matrix(dim).tobytes(), dim


def test_call_site_capture_is_off(spark):
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"


# A fresh session, so that no earlier test has compiled the classes:
# run the first op until it is steady, then the other five dedup ops,
# then the first op once more, counting compiled classes around each.
_WORKING_SET = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {root!r})
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry, session,
    )

    spark = session.get_spark(
        "codegen_cache", cpus=2, extra_conf={{"spark.driver.memory": "1g"}}
    )
    fns = registry.all_queries()

    def compiled(name):
        before = session.codegen_compilations(spark)
        fns[name](spark, {sf_dir!r}).collect()
        session.evict_caches(spark)
        return session.codegen_compilations(spark) - before

    first, *rest = {ops!r}
    cold, steady = compiled(first), compiled(first)
    others = sum(compiled(name) for name in rest)
    print(json.dumps({{"cold": cold, "steady": steady, "others": others,
                      "again": compiled(first)}}))
    spark.stop()
    """
)


def test_warm_rerun_compiles_no_class_after_a_larger_working_set(
    sf_dir, tmp_path
):
    """The five other dedup ops compile more classes than Spark's default
    codegen cache holds (100); a re-run of the first op after them still
    finds every class it needs in the cache. ``q_dedup_exact`` compiles
    nothing on a steady re-run, so any compilation is an eviction."""
    ops = ["q_dedup_exact", "q_dedup_near", "q_dedup_simhash", "q_sim_ann",
           "q_text_tfidf", "q_dedup_ngram_jaccard"]
    script = _WORKING_SET.format(root=ROOT, sf_dir=sf_dir, ops=ops)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["cold"] > 0 and out["steady"] == 0, out
    assert out["others"] > 100, out
    assert out["again"] == 0, out
