"""Generate COVERAGE.md: every registered query → implementing function
(file:line), oracle kind, and first docstring line. Run after adding
operators so the coverage map never drifts from the registry.

Usage: python tools/gen_coverage.py
"""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
    registry,
)

GROUPS = [
    ("Scans / sources / sinks", ("q_scan", "q_source", "q_sink")),
    ("Filters / projections", ("q_filter", "q_project")),
    ("Joins", ("q_join",)),
    ("Aggregations", ("q_agg",)),
    ("Window functions", ("q_win", "q_topk")),
    ("Sorts / set ops", ("q_sort", "q_union", "q_intersect", "q_except")),
    ("Scalar functions", ("q_str", "q_date", "q_math", "q_json", "q_array", "q_map")),
    ("Pivot / unpivot / subqueries / profiling", ("q_pivot", "q_unpivot", "q_subquery", "q_profile", "q_sessionize")),
    ("SQL front-end", ("q_sql",)),
    ("UDF surface", ("q_udf", "q_udaf", "q_udtf")),
    ("Streaming", ("q_stream",)),
    ("Dedup", ("q_dedup",)),
    ("Similarity search", ("q_sim",)),
    ("Text analysis", ("q_text",)),
    ("Multimodal", ("q_multimodal",)),
]


# Keys SURVEY.md declares under its "Staged" table: built and tested but
# deliberately NOT registered yet, because the driver's 50-key/round
# verification window is full and a never-checked registered key outside
# its window is a rotation violation.  The invariant below holds these to
# the OPPOSITE contract — they must stay unregistered until the round that
# registers them also removes them from this set (two-line change, staged
# note in operators/behavior.py).  Empty since r9 registered
# q_event_attribution, filling the 150-key rotation capacity exactly.
_STAGED: frozenset[str] = frozenset()


def assert_survey_declares_served_surface() -> None:
    """Declared contract (SURVEY.md §2.2 query keys) must equal the
    served contract (registry). Drift in either direction fails loudly —
    a registered query missing from SURVEY is an undeclared operator;
    a SURVEY key with no implementation is vaporware — except the
    explicit ``_STAGED`` keys, which must be declared AND unregistered
    (registering one without clearing it from ``_STAGED`` also fails)."""
    import re

    with open(os.path.join(ROOT, "SURVEY.md")) as fh:
        survey = set(re.findall(r"`(q_[a-z0-9_]+)`", fh.read()))
    served = set(registry.all_queries())
    missing_decl = sorted(served - survey)
    missing_impl = sorted(survey - served - _STAGED)
    staged_wrong = sorted((_STAGED & served) | (_STAGED - survey))
    assert not missing_decl, f"registered but not in SURVEY: {missing_decl}"
    assert not missing_impl, f"in SURVEY but not registered: {missing_impl}"
    assert not staged_wrong, (
        f"staged keys must be declared in SURVEY and NOT registered "
        f"(registering one? remove it from _STAGED too): {staged_wrong}"
    )


def main() -> None:
    assert_survey_declares_served_surface()
    qs = registry.all_queries()
    oracles = registry.all_oracles()
    rows = []
    for name, fn in qs.items():
        f = inspect.unwrap(fn)
        path = os.path.relpath(inspect.getsourcefile(f), ROOT)
        line = inspect.getsourcelines(f)[1]
        doc = (inspect.getdoc(f) or "").split("\n")[0].rstrip(".")
        kind = "sql" if name in oracles else "rows"
        rows.append((name, f"{path}:{line}", kind, doc))

    used = set()
    out = [
        "# COVERAGE — declared query surface (auto-generated)",
        "",
        "One row per `queries()` key (driver contract). Oracle `sql` = "
        "hash-checked against DuckDB at sf0.01; `rows` = rows-only driver "
        "check, with semantics pinned by unit/property tests instead.",
        "",
        f"Generated by `tools/gen_coverage.py` — {len(rows)} queries, "
        f"{len(oracles)} with SQL oracles.",
    ]
    for title, prefixes in GROUPS:
        members = sorted(
            r for r in rows if r[0].startswith(prefixes) and r[0] not in used
        )
        if not members:
            continue
        used.update(r[0] for r in members)
        out += ["", f"## {title}", "", "| query | impl | oracle | semantics |", "|---|---|---|---|"]
        for name, loc, kind, doc in members:
            out.append(f"| `{name}` | `{loc}` | {kind} | {doc} |")
    leftover = sorted(r for r in rows if r[0] not in used)
    if leftover:
        out += ["", "## Other", "", "| query | impl | oracle | semantics |", "|---|---|---|---|"]
        for name, loc, kind, doc in leftover:
            out.append(f"| `{name}` | `{loc}` | {kind} | {doc} |")
    with open(os.path.join(ROOT, "COVERAGE.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote COVERAGE.md: {len(rows)} queries")


if __name__ == "__main__":
    main()
