"""Local differential harness: run every registered query on Spark AND its
DuckDB oracle, compare row count + sorted-column value multiset — a local
replica of the driver's t2 gate so mismatches surface before commit.

Usage:  python tools/check_oracle.py [--vanilla] [sf_dir] [query ...]

--vanilla runs on a BARE SparkSession (no package confs) — the
driver's actual environment. Any query that only passes under the
tuned `session.get_spark()` (a conf set at build time instead of by
`catalog.ensure_reader_conf` at load time — the r3 NTZ break class)
fails here before it fails at the driver.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
    registry,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
    TABLES,
    table_path,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
    get_spark,
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if vanilla:
        from pyspark.sql import SparkSession

        # honor the driver rig's CPU count like the tuned path does —
        # a hardcoded local[32] oversubscribes smaller rigs and drifts
        # from the environment this mode claims to replicate
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("oracle_check_vanilla")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    qs = registry.all_queries()
    oracles = registry.all_oracles()
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(
                f"rows  {name}: {len(srows)} rows, cols={scols} "
                f"({time.time() - t0:.1f}s) [no oracle]"
            )
            if not srows:
                failures.append(name)
                print(f"FAIL  {name}: rows-only query returned 0 rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}")
            continue
        ok = True
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            ok = False
            print(f"FAIL  {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
        elif len(srows) != len(drows):
            ok = False
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
        else:
            sc, dc = canon(srows, scols), canon(drows, dcols)
            if sc != dc:
                ok = False
                diff = [
                    (a, b) for a, b in zip(sc, dc) if a != b
                ][:3]
                print(f"FAIL  {name}: value mismatch, first diffs: {diff}")
        if ok:
            print(f"ok    {name}: {len(srows)} rows ({time.time() - t0:.1f}s)")
        else:
            failures.append(name)
    checked = len(only) if only else len(qs)
    print(
        f"\n{checked - len(failures)}/{checked} passed"
        + (f"; FAILURES: {failures}" if failures else "")
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
