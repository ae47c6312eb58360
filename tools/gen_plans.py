"""Generate PLANS.md: the formatted physical plan of every headline
benchmark query at sf0.1, so plan regressions are reviewable in diffs
(the `.explain` evidence behind SCALE.md's claims).

Usage: python tools/gen_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import EXTENDED, HEADLINE

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
    plans,
    registry,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark("gen_plans", cpus=8)
    qs = registry.all_queries()
    out = [
        "# PLANS — headline physical plans (auto-generated)",
        "",
        f"`tools/gen_plans.py` output at `{SF_DIR}`. Review checklist per",
        "plan: projections/filters reach the scan (ReadSchema, "
        "PushedFilters), small dims broadcast, aggregates are "
        "partial+final HashAggregate, no unexpected Exchange.",
    ]
    for name in HEADLINE + EXTENDED:
        df = qs[name](spark, SF_DIR)
        tree = plans.formatted_plan(df).split("\n\n")[0]
        scans = plans.read_schema_columns(df)
        out += [
            "",
            f"## {name}",
            "",
            "```",
            tree.strip(),
            "```",
            f"- scans read: {['/'.join(s) for s in scans]}",
            f"- broadcast hash joins: {plans.broadcast_hash_join_count(df)}",
        ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md for {len(HEADLINE + EXTENDED)} queries")


if __name__ == "__main__":
    main()
