"""Semantics tests for the user-behavior analytics family
(operators/behavior.py) on hand-crafted event logs — the oracle parity
sweep (test_oracle_parity) checks engine agreement; these pin WHAT the
queries mean: funnel stage ordering strictness, retention offsets,
transition-probability normalization, growth-accounting identities."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
    behavior,
)

_T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _ts(**kw) -> dt.datetime:
    return _T0 + dt.timedelta(**kw)


def _events_dir(spark, base, rows) -> str:
    """Write (event_id, ts, user_id, event_type) rows as an events.parquet
    fixture dir, a new one under ``base``, consumable by load_table."""
    d = tempfile.mkdtemp(prefix="behavior_fixture_", dir=base)
    df = spark.createDataFrame(
        [(i, ts, uid, et, 1.0, "{}") for i, (ts, uid, et) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    return d


@pytest.fixture(scope="module")
def funnel_dir(spark, tmp_path_factory):
    rows = [
        # u1 completes the funnel in order
        (_ts(minutes=1), 1, "view"),
        (_ts(minutes=2), 1, "click"),
        (_ts(minutes=3), 1, "purchase"),
        # u2 clicks BEFORE its first view: click stage must not count,
        # and its purchase (no qualifying click) must not either
        (_ts(minutes=1), 2, "click"),
        (_ts(minutes=2), 2, "view"),
        (_ts(minutes=3), 2, "purchase"),
        # u3 views then purchases without clicking: stops at stage 1
        (_ts(minutes=1), 3, "view"),
        (_ts(minutes=2), 3, "purchase"),
        # u4 never enters the funnel
        (_ts(minutes=1), 4, "error"),
    ]
    return _events_dir(spark, tmp_path_factory.mktemp("funnel"), rows)


def test_funnel_stage_ordering_is_strict(spark, funnel_dir):
    got = {
        r["stage_name"]: r["n_users"]
        for r in behavior.q_funnel_conversion(spark, funnel_dir).collect()
    }
    assert got == {
        "view": 3,
        "click_after_view": 1,
        "purchase_after_click": 1,
    }


def test_funnel_pct_is_vs_previous_stage(spark, funnel_dir):
    rows = {
        r["stage_name"]: r["pct_of_prev"]
        for r in behavior.q_funnel_conversion(spark, funnel_dir).collect()
    }
    assert rows["view"] == pytest.approx(3 / 4)  # 4 users total
    assert rows["click_after_view"] == pytest.approx(1 / 3)
    assert rows["purchase_after_click"] == pytest.approx(1 / 1)


def test_cohort_retention_offsets_and_share(spark, tmp_path):
    rows = [
        # u1: first seen day 0; active again day 6 (offset 0), day 7
        # (offset 1) and day 20 (offset 2)
        (_ts(days=0), 1, "view"),
        (_ts(days=6), 1, "click"),
        (_ts(days=7), 1, "view"),
        (_ts(days=20), 1, "view"),
        # u2: same cohort day, never returns
        (_ts(days=0, minutes=5), 2, "view"),
    ]
    d = _events_dir(spark, tmp_path, rows)
    got = {
        (r["week_offset"], r["n_users"], r["pct_of_cohort"])
        for r in behavior.q_cohort_retention(spark, d).collect()
    }
    assert got == {(0, 2, 1.0), (1, 1, 0.5), (2, 1, 0.5)}


def test_transitions_probabilities_normalize_per_src(spark, sf_dir):
    rows = behavior.q_event_transitions(spark, sf_dir).collect()
    by_src: dict[str, float] = {}
    for r in rows:
        by_src[r["src"]] = by_src.get(r["src"], 0.0) + r["p_transition"]
    for src, total in by_src.items():
        assert total == pytest.approx(1.0, abs=1e-5), src


def test_transitions_counts_on_known_sequence(spark, tmp_path):
    rows = [
        (_ts(minutes=i), 1, et)
        for i, et in enumerate(["view", "click", "view", "click", "error"])
    ]
    d = _events_dir(spark, tmp_path, rows)
    got = {
        (r["src"], r["dst"]): (r["n"], r["p_transition"])
        for r in behavior.q_event_transitions(spark, d).collect()
    }
    assert got == {
        ("view", "click"): (2, 1.0),
        ("click", "view"): (1, 0.5),
        ("click", "error"): (1, 0.5),
    }


def test_dwell_known_gaps(spark, tmp_path):
    rows = [
        (_ts(seconds=0), 1, "view"),
        (_ts(seconds=10), 1, "click"),   # view dwelled 10 s
        (_ts(seconds=40), 1, "view"),    # click dwelled 30 s
        (_ts(seconds=60), 1, "error"),   # view dwelled 20 s
    ]
    d = _events_dir(spark, tmp_path, rows)
    got = {
        r["event_type"]: (r["n"], r["avg_dwell_ms"], r["p50_dwell_ms"])
        for r in behavior.q_event_dwell(spark, d).collect()
    }
    assert got["view"] == (2, 15000.0, 15000.0)
    assert got["click"] == (1, 30000.0, 30000.0)
    assert "error" not in got  # last event has no next action


def test_path_topk_deterministic_and_ranked(spark, sf_dir):
    a = behavior.q_path_topk(spark, sf_dir).collect()
    b = behavior.q_path_topk(spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) == 10
    ns = [r["n"] for r in a]
    assert ns == sorted(ns, reverse=True)


def test_growth_accounting_identities(spark, sf_dir):
    rows = sorted(
        behavior.q_growth_accounting(spark, sf_dir).collect(),
        key=lambda r: r["d"],
    )
    # cumulative users = running sum of new users, monotone, and ends at
    # the total distinct-user count; dau bounded by cumulative
    run = 0
    for r in rows:
        run += r["new_users"]
        assert r["cum_users"] == run
        assert r["dau"] <= r["cum_users"]
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
        load_table,
    )
    total = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert run == total


def test_time_rollup_gapfill_dense_and_consistent(spark, sf_dir):
    """q_time_rollup invariants: (1) the grid is DENSE — every hour
    between the corpus' first and last event appears exactly once per
    event type; (2) nonzero cells equal a directly-computed
    groupBy(hour, type) count; (3) gap rows are exactly (0, 0.0)."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
        load_table,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
        timeseries,
    )

    from pyspark.sql import functions as F

    rows = timeseries.q_time_rollup(spark, sf_dir).collect()
    got = {(r["hour_iso"], r["event_type"]): r for r in rows}
    assert len(got) == len(rows), "duplicate (hour, type) cells"

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00"
            ).alias("h"),
            "event_type",
        )
        .groupBy("h", "event_type")
        .count()
        .collect()
    )
    direct = {(r["h"], r["event_type"]): r["count"] for r in ev}
    hours = sorted({h for h, _ in got})
    types = sorted({t for _, t in got})
    # dense: |cells| = |hours| × |types|, spanning min..max contiguously
    assert len(got) == len(hours) * len(types)
    lo = dt.datetime.strptime(hours[0], "%Y-%m-%d %H:%M")
    hi = dt.datetime.strptime(hours[-1], "%Y-%m-%d %H:%M")
    assert len(hours) == int((hi - lo).total_seconds()) // 3600 + 1
    for (h, t), r in got.items():
        want = direct.get((h, t), 0)
        assert r["n_events"] == want, (h, t)
        if want == 0:
            assert r["sum_value"] == 0.0


def test_time_rollup_constructed_gaps_and_boundaries(spark, tmp_path):
    """Constructed-corpus edges for q_time_rollup: a multi-hour gap is
    zero-filled, events exactly ON an hour boundary bucket into that
    hour, a single-event corpus yields a 1×1 grid, and value sums land
    in the right bucket."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
        timeseries,
    )

    # two types, events at 12:00:00 exactly (boundary), 12:59:59,
    # then a 3-hour gap to 15:30
    d = _events_dir(
        spark,
        tmp_path,
        [
            (_ts(hours=0), 1, "click"),        # 12:00:00 exact
            (_ts(minutes=59, seconds=59), 1, "click"),
            (_ts(hours=3, minutes=30), 2, "view"),
        ],
    )
    rows = {
        (r["hour_iso"], r["event_type"]): r
        for r in timeseries.q_time_rollup(spark, d).collect()
    }
    # dense grid: 4 hours (12..15) × 2 types
    assert len(rows) == 8
    assert rows[("2024-03-01 12:00", "click")]["n_events"] == 2
    assert rows[("2024-03-01 12:00", "click")]["sum_value"] == 2.0
    assert rows[("2024-03-01 15:00", "view")]["n_events"] == 1
    # the gap hours are zero-filled for BOTH types
    for h in ("2024-03-01 13:00", "2024-03-01 14:00"):
        for t in ("click", "view"):
            assert rows[(h, t)]["n_events"] == 0
            assert rows[(h, t)]["sum_value"] == 0.0
    # single-event corpus → 1×1 grid
    d1 = _events_dir(spark, tmp_path, [(_ts(hours=1), 1, "click")])
    one = timeseries.q_time_rollup(spark, d1).collect()
    assert len(one) == 1
    assert one[0]["hour_iso"] == "2024-03-01 13:00"
    assert one[0]["n_events"] == 1


# ----------------------------------------------------------- attribution
# q_event_attribution was built+tested in r8 and registered in r9 (the r8
# driver window was full — see the note in operators/behavior.py).  These
# tests pinned its semantics a round before the oracle sweep took over.


def _attr_dir(spark, base, rows) -> str:
    """(event_id, ts, user_id, event_type, value, k) rows -> a new
    fixture dir under ``base``."""
    d = tempfile.mkdtemp(prefix="attr_fixture_", dir=base)
    df = spark.createDataFrame(
        [(i, ts, uid, et, v, '{"k": %d}' % k) for i, ts, uid, et, v, k in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    return d


def test_attribution_last_touch_lookback_and_ties(spark, tmp_path):
    rows = [
        # u1: search view then social click -> LAST touch (social) wins;
        # a second purchase later still credits social (the first
        # purchase is not a touch and must not reset attribution).
        (0, _ts(minutes=1), 1, "view", 0.0, 0),      # k=0 -> search
        (1, _ts(minutes=2), 1, "click", 0.0, 1),     # k=1 -> social
        (2, _ts(minutes=3), 1, "purchase", 10.0, 0),
        (3, _ts(minutes=4), 1, "purchase", 20.0, 0),
        # u2: touch 25h before the purchase -> outside the 24h lookback
        (4, _ts(hours=0), 2, "view", 0.0, 2),
        (5, _ts(hours=25), 2, "purchase", 5.0, 0),
        # u3: no touch at all
        (6, _ts(minutes=9), 3, "purchase", 7.0, 0),
        # u4: two touches at the IDENTICAL timestamp -> event_id breaks
        # the tie, the higher id (ads) is the last touch
        (7, _ts(minutes=1), 4, "view", 0.0, 2),      # k=2 -> email
        (8, _ts(minutes=1), 4, "view", 0.0, 3),      # k=3 -> ads
        (9, _ts(minutes=2), 4, "purchase", 3.0, 0),
    ]
    d = _attr_dir(spark, tmp_path, rows)
    got = {
        r["channel"]: (r["conversions"], r["revenue"])
        for r in behavior.q_event_attribution(spark, d).collect()
    }
    assert got == {
        "social": (2, 30.0),
        "organic": (2, 12.0),
        "ads": (1, 3.0),
    }


def test_attribution_boundary_is_inclusive(spark, tmp_path):
    # a touch EXACTLY 24h before the purchase still attributes
    rows = [
        (0, _ts(hours=0), 1, "click", 0.0, 1),
        (1, _ts(hours=24), 1, "purchase", 9.0, 0),
    ]
    d = _attr_dir(spark, tmp_path, rows)
    got = [tuple(r) for r in behavior.q_event_attribution(spark, d).collect()]
    assert got == [("social", 1, 9.0)]


def test_attribution_matches_duckdb_oracle(spark):
    """Until r9 registers the key, this pins the staged oracle SQL and
    the Spark plan to each other at sf0.001 (the registered sweep in
    test_oracle_parity takes over after registration)."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    sdf = behavior.q_event_attribution(spark, sf)
    srows = sorted(tuple(map(str, r)) for r in sdf.collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    drows = sorted(
        tuple(map(str, r))
        for r in con.execute(behavior._ATTRIBUTION_ORACLE).fetchall()
    )
    assert srows == drows and len(srows) == 5
