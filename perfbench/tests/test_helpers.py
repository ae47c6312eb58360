"""Self-tests for the benchmark's helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import datagen  # noqa: E402
import hygiene  # noqa: E402
import stats  # noqa: E402
from harness import END_TO_END, PER_LAYER  # noqa: E402
from tracing import Span, Tracer, self_time_by_name, self_times  # noqa: E402


# -- freshness join ---------------------------------------------------------

def test_freshness_takes_first_covering_sink_call():
    due = [10.0, 10.5, 11.0]
    cumulative = [100, 140, 180]
    calls = [(10.2, 60), (10.9, 140), (11.8, 180), (12.5, 180)]
    assert stats.freshness(due, cumulative, calls) == [
        10.9 - 10.0, 10.9 - 10.5, 11.8 - 11.0
    ]


def test_freshness_marks_files_never_reflected():
    assert stats.freshness([1.0, 2.0], [10, 20], [(1.5, 10)]) == [0.5, None]


def test_freshness_ignores_a_smaller_total_after_a_larger_one():
    # the running maximum decides; a later call with a smaller total
    # (impossible for a complete-mode histogram, but harmless) is skipped
    calls = [(1.0, 50), (2.0, 40), (3.0, 80)]
    assert stats.freshness([0.5, 0.6], [45, 70], calls) == [0.5, 2.4]


def test_freshness_matches_a_generated_log():
    log = datagen.click_log(
        3, n_users=50, n_cities=4, backlog_files=2, backlog_clicks=30,
        live_files=5, live_clicks=10,
    )
    cumulative = log.cumulative_reported()
    due = [float(i) for i in range(len(log.files))]
    calls = [(i + 0.25, cumulative[i]) for i in range(len(log.files))]
    assert stats.freshness(due, cumulative, calls) == [0.25] * len(log.files)
    assert cumulative[-1] == sum(log.expected_report()["overall"].values())


# -- percentile rule --------------------------------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(list(range(19)), 50) is None
    assert stats.percentile([float(i) for i in range(1, 21)], 50) == 10.0
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile([float(i) for i in range(1, 101)], 90) == 90.0
    assert stats.percentile([], 50) is None


def test_percentile_is_order_independent():
    values = [float(v) for v in (7, 3, 9, 1, 5) * 10]
    assert stats.percentile(values, 50) == stats.percentile(sorted(values), 50)


# -- span self time ---------------------------------------------------------

def test_self_time_subtracts_children_once():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "a"),
        Span(2, "load", 1.0, 3.0, 1, "a"),
        Span(3, "run", 2.0, 6.0, 1, "a"),   # overlaps the first child
        Span(4, "inner", 4.0, 5.0, 3, "a"),
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 5.0  # children cover [1, 6]
    assert st[2] == 2.0
    assert st[3] == 3.0
    assert st[4] == 1.0


def test_self_time_clips_children_to_the_parent():
    spans = [Span(1, "op", 0.0, 2.0, None, None), Span(2, "c", 1.5, 4.0, 1, None)]
    assert self_times(spans)[1] == 1.5


def test_tracer_records_nesting_and_op_and_can_be_disabled():
    tracer = Tracer()

    def leaf():
        return 42

    wrapped = tracer.wrap("leaf", leaf)
    assert wrapped() == 42 and tracer.spans == []
    tracer.enabled = True
    tracer.op = "op1"
    with tracer.span("outer"):
        wrapped()
    inner, outer = tracer.spans
    assert (inner.name, inner.parent, inner.op) == ("leaf", outer.span_id, "op1")
    assert outer.parent is None
    by_name = self_time_by_name(tracer.spans, {"op1"})
    assert set(by_name) == {"leaf", "outer"}
    assert self_time_by_name(tracer.spans, {"other"}) == {}


def test_tracer_patch_and_dump(tmp_path):
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tracer = Tracer()
    tracer.enabled = True
    tracer.patch(mod, "f", "mod.f")
    assert mod.f(1) == 2 and tracer.spans[0].name == "mod.f"
    out = tmp_path / "spans.json"
    tracer.dump(str(out))
    assert json.loads(out.read_text())[0]["name"] == "mod.f"


# -- temp-dir diff ----------------------------------------------------------

def test_tmp_diff_finds_and_removes_only_new_entries(tmp_path):
    root = tmp_path / "tmp"
    (root / "aub_ckpt" / "old").mkdir(parents=True)
    (root / "keep.txt").write_text("x")
    before = hygiene.snapshot(str(root))
    (root / "aub_ckpt" / "new").mkdir()
    (root / "aub_ckpt" / "new" / "state").write_text("s" * 10)
    (root / "aub_streamsink" / "sink_1").mkdir(parents=True)
    (root / "aub_streamsink" / "sink_1" / "part.parquet").write_text("p" * 7)
    new = hygiene.created(before, hygiene.snapshot(str(root)))
    assert new == [
        str(root / "aub_ckpt" / "new"),
        str(root / "aub_streamsink"),
    ]
    assert hygiene.tree_bytes(str(root)) == 1 + 10 + 7
    hygiene.remove(new)
    assert hygiene.snapshot(str(root)) == before
    assert hygiene.tree_bytes(str(root)) == 1


def test_tmp_diff_of_missing_root_is_empty(tmp_path):
    assert hygiene.snapshot(str(tmp_path / "absent")) == set()


# -- inputs and checks ------------------------------------------------------

def test_click_log_is_seeded_and_has_no_null_demographics():
    kw = dict(n_users=100, n_cities=30, backlog_files=3, backlog_clicks=20,
              live_files=2, live_clicks=5)
    a, b = datagen.click_log(5, **kw), datagen.click_log(5, **kw)
    assert a.files == b.files and a.users == b.users
    assert a.files != datagen.click_log(6, **kw).files
    assert all(u["gender"] in datagen.GENDERS for u in a.users)
    assert all(18 <= u["age"] <= 70 for u in a.users)
    assert [len(f) for f in a.files] == [20, 20, 20, 5, 5]


def test_tables_are_seeded(tmp_path):
    for d in ("a", "b"):
        datagen.write_tables(str(tmp_path / d), 9, events=50, users=5,
                             customers=10, documents=30, embeddings=10)
    for name in ("events", "customer", "documents", "embeddings"):
        a = (tmp_path / "a" / f"{name}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{name}.parquet").read_bytes()


def test_row_hash_ignores_row_and_column_order():
    h1 = checks.row_hash(["b", "a"], [(1, "x"), (2, "y")])
    h2 = checks.row_hash(["a", "b"], [("y", 2), ("x", 1)])
    assert h1 == h2
    assert h1 != checks.row_hash(["a", "b"], [("y", 2), ("x", 3)])
    assert checks.row_hash(["f"], [(0.1 + 0.2,)]) == checks.row_hash(["f"], [(0.3,)])


# -- the declared metrics ---------------------------------------------------

def test_benchmark_json_matches_the_metrics_the_code_prints():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
