"""Physical-plan regression tests: the optimizations we rely on at scale
must be visible in the plan (SURVEY §4.2), not assumed.

A failure here means a query silently de-optimized — e.g. a cast started
blocking parquet pushdown, or a broadcast hint stopped applying — which
is invisible to the value-correctness oracle but catastrophic at 100 TB.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
    plans,
    registry,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.catalog import (
    load_table,
)

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


def test_scan_projection_prunes_columns(spark, sf_dir):
    df = registry.all_queries()["q_scan_project"](spark, sf_dir)
    schemas = plans.read_schema_columns(df)
    assert schemas, "no scan in plan?"
    # lineitem is 16+ columns wide; the scan must read exactly 3
    assert sorted(schemas[0]) == [
        "l_extendedprice",
        "l_linenumber",
        "l_orderkey",
    ]


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    pushed = plans.pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed


def test_broadcast_join_strategy(spark, sf_dir):
    df = registry.all_queries()["q_join_broadcast"](spark, sf_dir)
    assert plans.broadcast_hash_join_count(df) >= 1


def test_theta_join_is_broadcast_nested_loop(spark, sf_dir):
    # small-side theta join must broadcast, never shuffle the fact side
    df = registry.all_queries()["q_join_theta_range"](spark, sf_dir)
    assert plans.uses_operator(df, "BroadcastNestedLoopJoin")


def test_aggregate_is_hash_not_sort(spark, sf_dir):
    df = registry.all_queries()["q_agg_sum_avg"](spark, sf_dir)
    assert plans.uses_operator(df, "HashAggregate")


def test_bucketed_join_skips_shuffle(spark, sf_dir):
    """Bucketing both join sides on the key removes the join shuffle —
    THE layout strategy for the perennial big-big join at 100 TB
    (SCALE.md §Joins). Asserted: a sort-merge join of two tables
    bucketed on the key plans no hashpartitioning Exchange."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).saveAsTable("li_bucketed")
    od.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("od_bucketed")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bucketed").join(
            spark.table("od_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plans.formatted_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS od_bucketed")


def test_codegen_covers_plan(spark, sf_dir):
    # AQE hides codegen regions until runtime; scope it off for the check
    # and give the shared session back the value it had
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = registry.all_queries()["q_agg_sum_avg"](spark, sf_dir)
        assert plans.wholestage_codegen_spans(df) >= 1
    finally:
        spark.conf.set(key, before)


# Queries whose BroadcastNestedLoopJoin is DESIGNED: a provably-tiny
# build side (literal band table, 5-probe set, 1-row aggregate) or an
# explicitly-requested cross join. Everything else must plan equi joins.
_BNLJ_ALLOWED = {
    "q_join_cross",  # explicit tiny-dims cross join
    "q_join_theta_range",  # literal 5-row band table broadcast
    "q_sim_topk_bruteforce",  # 5-probe set broadcast (two-phase top-k)
    "q_sim_timeseries",  # 20-probe profile broadcast (two-phase top-k)
    "q_text_tfidf",  # 1-row corpus-size aggregate broadcast
    "q_text_unigram_logprob",  # 1-row corpus-total aggregate broadcast
    "q_event_anomaly",  # 1-row mean/stddev aggregate broadcast
    "q_event_rfm",  # 1-row anchor-date aggregate broadcast
    "q_sample_temperature",  # 1-row sqrt-mass + cap aggregate broadcasts
    "q_sim_ivf",  # corpus/probes × k-centroids routing cross (16-row build side)
    "q_dedup_semantic",  # same 16-row centroid-assignment cross as q_sim_ivf
    "q_text_vocab",  # 1-row corpus-token-total aggregate broadcast
    "q_time_rollup",  # hour spine × enum-sized distinct-type broadcast
    "q_time_interpolate",  # same hour-spine × enum-type grid as rollup
}


def _sweep_batch_queries(spark, sf_dir, check, skip=()):
    """Run ``check(name, df)`` over every registered batch query,
    ISOLATING per-query failures: one broken query must not void guard
    coverage for the other 126 (VERDICT r3 item 3 — the r3 NTZ break
    crashed all three sweeps on the first AnalysisException, silencing
    their signal). Collects (name, error) pairs and fails with the full
    list at the end."""
    failures: list[str] = []
    for name, fn in registry.all_queries().items():
        if name.startswith("q_stream_") or name in skip:
            continue  # streaming plans resolve at run time
        try:
            check(name, fn(spark, sf_dir))
        except AssertionError as e:
            failures.append(f"{name}: guard violated: {e}")
        except Exception as e:  # build/analysis crash — still a failure
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
    assert not failures, "\n".join(failures)


def test_sweep_isolates_per_query_failures(spark, sf_dir, monkeypatch):
    """The isolation property itself: one query that CRASHES at build
    time must not stop the sweep from checking (and reporting) the
    rest. Exactly the r3 failure mode, reproduced deliberately."""

    def boom(_spark, _sf):
        raise RuntimeError("synthetic build crash")

    def violate(spark_, sf_):
        return load_table(spark_, sf_, "nation").limit(1)

    monkeypatch.setattr(
        registry,
        "all_queries",
        lambda: {"q_fake_crash": boom, "q_fake_violation": violate},
    )

    def check(name, df):
        assert name != "q_fake_violation", "deliberate guard violation"

    try:
        _sweep_batch_queries(spark, sf_dir, check)
    except AssertionError as e:
        msg = str(e)
        assert "q_fake_crash" in msg and "synthetic build crash" in msg
        assert "q_fake_violation" in msg and "deliberate guard violation" in msg
    else:
        raise AssertionError("sweep should have failed on both fakes")


def test_no_query_plans_cartesian_or_rogue_bnlj(spark, sf_dir):
    """Across the ENTIRE registered batch surface: no CartesianProduct,
    and BroadcastNestedLoopJoin only where the build side is provably
    tiny by construction (allowlist above). This is the blanket guard
    against the all-pairs/full-broadcast class of 100 TB killers —
    including the two round-1 offenders (embed-cosine, ngram-jaccard)
    and any future regression."""

    def check(name, df):
        plan = plans.formatted_plan(df)
        assert "CartesianProduct" not in plan, "CartesianProduct in plan"
        if name not in _BNLJ_ALLOWED:
            assert (
                "BroadcastNestedLoopJoin" not in plan
            ), "rogue BroadcastNestedLoopJoin"

    _sweep_batch_queries(spark, sf_dir, check)


def test_windows_always_partitioned(spark, sf_dir):
    """No registered batch query may plan an unpartitioned Window over
    unaggregated input — an empty partition spec moves the entire input
    to one reducer, the canonical single-node wall at 100 TB. (Windows
    over a prior Aggregate are exempt: their input is O(groups).)"""

    def check(name, df):
        n = plans.unpartitioned_window_count(df)
        assert n == 0, f"{n} unpartitioned Window node(s)"

    _sweep_batch_queries(spark, sf_dir, check)


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """q_sink_partitioned's read-back must resolve the event_type filter
    against directory names (partition pruning), not row groups: the
    scan node lists PartitionFilters on event_type and scans only the 2
    matching of 5 partition directories."""
    df = registry.all_queries()["q_sink_partitioned"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan
    start = plan.index("PartitionFilters")
    assert "event_type" in plan[start : start + 200], plan[start : start + 200]


def test_no_fact_scaled_table_is_broadcast_hinted(spark, sf_dir):
    """No registered batch query may force-broadcast a table whose size
    scales with the data (customer/orders/lineitem/part/supplier/events/
    documents/embeddings) without first BOUNDING its cardinality. A
    hint overrides the size threshold AND AQE, so a fact-scaled build
    side that fits at sf0.1 OOMs every executor at sf100 — the round-2
    q_stream_static_join bug class. Bounding = GlobalLimit, Deduplicate,
    or an Aggregate whose grouping keys all have bounded domains
    (global aggregates, enum columns, constant-modulus bucket ids).

    Tightened in r6 (VERDICT r5 item 3): an Aggregate grouped on a
    DATA-DERIVED unbounded key (token, word, doc_id …) no longer
    legalizes a hint — that loophole let a vocabulary-sized
    broadcast(freq) ship in the jaccard/containment prefix joins, and a
    word-frequency table on a 100 TB web corpus is billions of rows
    (Heaps' law). Re-introducing any of those hints now fails here
    (regression-pinned in test_vocabulary_keyed_aggregate_is_not_a_
    legal_hint_target).

    Also tightened in r6: a Deduplicate (distinct()) keyed on a
    data-derived column no longer legalizes — a corpus-wide distinct
    over tokens/grams is O(vocabulary), the same OOM as the equivalent
    groupBy.

    Allowlist, each with its stated out-of-band bound:
    - q_sim_topk_bruteforce / q_sim_ivf / q_sim_ann broadcast the PROBE
      set — a `vec_id < N_PROBES` (=5 rows at any sf) filter of
      embeddings; a constant predicate the structural walk cannot
      distinguish from a scaling filter.
    - q_text_langid broadcasts the language profiles — bounded to
      O(languages × PROFILE_K) by the `rank <= PROFILE_K` filter over a
      row_number window, a top-K-per-bounded-group reducer the walk
      cannot see (it only recognizes bounded Aggregate/Deduplicate/
      Limit).
    - q_text_decontaminate broadcasts the distinct 8-gram md5s of the
      BENCHMARK source only (`source == bench` filter before the
      distinct) — a held-out eval set is benchmark-sized (MBs) at any
      corpus scale, but the walk cannot tell a bounding filter from a
      scaling one.
    - q_dedup_embed_cosine (r15) broadcasts the (tbl, bucket) occupancy
      counts feeding the salting cap — an Aggregate on LSH keys whose
      DOMAIN is geometry-capped, not data-scaled: ≤ n_tables·2^n_planes
      ≤ 45·2¹⁶ ≈ 2.9M rows (~47 MB) at the _MAX_PLANES width cap, with
      the caps themselves enforced by bucketed_all_tables' ValueError
      guard. The walk cannot know a column named `bucket` is a
      constant-modulus code rather than a vocabulary key (minhash/
      simhash band buckets are hash-valued and NOT bounded), so the
      bound stays out-of-band rather than a name-based classifier rule."""
    hint_bounded_out_of_band = {
        "q_sim_topk_bruteforce",
        "q_sim_ivf",
        "q_sim_ann",
        "q_text_langid",
        "q_text_decontaminate",
        "q_dedup_embed_cosine",
    }

    def check(name, df):
        bad = plans.unreduced_fact_broadcast_hints(df)
        assert not bad, f"fact-scaled broadcast hint(s): {bad}"

    _sweep_batch_queries(spark, sf_dir, check, skip=hint_bounded_out_of_band)


def test_vocabulary_keyed_aggregate_is_not_a_legal_hint_target(
    spark, sf_dir
):
    """Direct regression pin for VERDICT r5 items 2+3: force-broadcast a
    token-frequency aggregate (the exact shape de-hinted in the
    jaccard/containment prefix joins and TF-IDF) and assert the plan
    walk flags it — grouping on a data-derived key must NOT legalize a
    hint. Also pins the node-level classifier both ways."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.plans.inspect import (
        _grouped_node_is_bounded,
    )

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    freq = words.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    hinted = words.join(F.broadcast(freq), "token")
    assert plans.unreduced_fact_broadcast_hints(hinted), (
        "vocabulary-keyed Aggregate legalized a broadcast hint — the "
        "r5 loophole is back"
    )
    # a bounded-key aggregate over the same fact table stays hintable
    by_enum = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    ok = d.join(F.broadcast(by_enum), "lang")
    assert not plans.unreduced_fact_broadcast_hints(ok)
    # node-level classifier: global agg bounded, token-keyed not
    assert _grouped_node_is_bounded(
        "Aggregate [cast(count(1) as double) AS n_docs#21]"
    )
    assert _grouped_node_is_bounded(
        "Aggregate [lang#2], [lang#2, count(1) AS n#9L]"
    )
    assert not _grouped_node_is_bounded(
        "Aggregate [token#6], [token#6, count(1) AS freq#8L]"
    )
    assert not _grouped_node_is_bounded(
        "Aggregate [word#33], [word#33, count(distinct doc_id#28L) "
        "AS df#12L]"
    )
    # Deduplicate gets the same key discipline: a corpus-wide
    # distinct() on a data-derived key is O(vocabulary), not a reducer
    assert _grouped_node_is_bounded("Deduplicate [event_type#4]")
    assert not _grouped_node_is_bounded("Deduplicate [gram#17]")
    # ...and the plan-level consequence: distinct() over exploded
    # corpus tokens does not legalize a hint either
    distinct_tokens = words.select("token").distinct()
    hinted2 = words.join(F.broadcast(distinct_tokens), "token")
    assert plans.unreduced_fact_broadcast_hints(hinted2)


def test_prefix_filter_joins_persist_their_shared_subtree(spark, sf_dir):
    """r6 regression pin: the jaccard/containment prefix-filter joins
    SELF-join a relation whose higher-order-lambda lineage defeats
    Spark's exchange reuse (measured: 12 parquet scans, the frequency
    aggregate computed once per side, zero ReusedExchange). The fix is
    an explicit persist of the shared relation — measured 94 → 11.5 s
    (jaccard) and ~28 → 8.7 s (containment) at sf0.1 (SCALE.md r6
    notes). This asserts the persist is still in the plan: both sides
    of each self-join must read the SAME InMemoryRelation."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        prefix_filtered_containment_join,
        prefix_filtered_jaccard_join,
    )

    d = load_table(spark, sf_dir, "documents")
    for fn in (prefix_filtered_jaccard_join, prefix_filtered_containment_join):
        opt = fn(d)._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("InMemoryRelation") >= 2, (
            f"{fn.__name__}: shared-subtree persist missing — the "
            "tokenize+freq+sort chain will execute once per join side"
        )


def test_streaming_jobs_source_has_no_broadcast_hint():
    """Streaming query plans only resolve at run time, so the batch
    plan walk above cannot see them — assert at source level that no
    streaming job forces a broadcast (the static dims they join are
    threshold/AQE-decided instead)."""
    import inspect as _inspect

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
        jobs,
        stateful,
    )

    for mod in (jobs, stateful):
        src = _inspect.getsource(mod)
        assert "F.broadcast(" not in src, mod.__name__


def test_salted_join_spreads_hot_key_across_partitions():
    """Skew proof for q_join_salted's strategy (VERDICT r2 item 8): on a
    deliberately skewed key (90% of rows share one user_id), hash
    repartitioning on the bare key pins ~90% of rows on ONE shuffle
    partition — the single-task wall at 100 TB — while the salted
    composite (key, salt in [0,8)) spreads the hot key over ~8
    partitions. Measured on actual shuffle partition sizes, not assumed."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.skew import (
        _N_SALT,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
        get_spark,
    )

    spark = get_spark()
    sf_dir = "/root/testdata/sf0.01"
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    # deterministic skew: 90% of events rewritten to user 1
    skewed = ev.withColumn(
        "user_id",
        F.when(F.pmod("event_id", F.lit(10)) < 9, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    # enough partitions that the 8 salted variants of the hot key rarely
    # hash-collide into the same partition (at 16, two of 8 usually do)
    n_part = 64

    def max_partition_rows(df, *keys):
        return (
            df.repartition(n_part, *keys)
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    total = skewed.count()
    unsalted = max_partition_rows(skewed, "user_id")
    salted = max_partition_rows(
        skewed.withColumn(
            "salt", F.pmod(F.xxhash64("event_id"), F.lit(_N_SALT))
        ),
        "user_id",
        "salt",
    )
    assert unsalted >= 0.9 * total, (unsalted, total)  # hot key pins one task
    assert salted <= unsalted / 4, (salted, unsalted)  # salt spreads ~N_SALT×


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Spark's runtime row-level filtering: a selective filter on the
    join's build side (orders: one priority) injects a bloom-filter
    `might_contain` predicate on the probe side (lineitem), discarding
    non-matching rows BEFORE the join shuffle — at 100 TB this cuts the
    shuffled probe volume by the build side's selectivity. Enabled by
    default above 10 GB probe scans; the thresholds are only lowered
    here because the fixture scan is KB-sized. Asserted on the optimized
    logical plan: a bloom_filter_agg build and a might_contain filter on
    the probe key."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        "0",
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_quantity", "o_totalprice"
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold"
        )


def test_repetition_stats_are_map_only(spark, sf_dir):
    """q_text_repetition advertises a ZERO-shuffle design (the mode-
    of-array trick replaces the explode+groupBy); hold it to that —
    any Exchange in the plan means the map-only claim regressed."""
    df = registry.all_queries()["q_text_repetition"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Exchange" not in plan, plan


def test_sink_bucketed_join_is_exchange_free(spark, sf_dir):
    """The registered bucketed-sink query must join WITHOUT exchanging
    either side on the join key (bucket layout = pre-paid shuffle).
    Broadcast is disabled so the cheap path can't mask a regression;
    the only Exchange allowed is the final groupBy(c_mktsegment)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.all_queries()["q_sink_bucketed"](spark, sf_dir)
        plan = plans.formatted_plan(df)
        assert "SortMergeJoin" in plan
        assert "hashpartitioning(o_custkey" not in plan, plan
        assert "hashpartitioning(c_custkey" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_incremental_dedup_index_side_is_exchange_and_sort_free(
    spark, sf_dir
):
    """The fingerprint index is bucketed+sorted on fp_idx, so the
    membership SMJ must need NO Exchange and NO Sort on the index
    side — only the (small) batch side repartitions. Broadcast is
    disabled so the cheap path can't mask a layout regression."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.all_queries()["q_dedup_incremental"](spark, sf_dir)
        plan = plans.formatted_plan(df)
        assert "SortMergeJoin" in plan
        assert "hashpartitioning(fp#" in plan.replace(
            "hashpartitioning(fp_idx", "X"
        ) or "hashpartitioning(fp," in plan, plan
        assert "hashpartitioning(fp_idx" not in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_r7_recompute_plans_persist_their_shared_subtree(spark, sf_dir):
    """r7 regression pin (VERDICT r6 items 1-3): the last three
    recompute-through-lambda-lineage plans gained the same explicit
    persist the jaccard/containment joins got in r6. End-of-r6 plan
    audit counted 20/20/14 parquet scans per run for
    editdist/simhash/embed_cosine; with the persist, every self-join
    side (and editdist's short-doc fallback) must read the SAME
    InMemoryRelation instead of re-deriving the chain."""
    qs = registry.all_queries()
    for key, min_ims in (
        ("q_dedup_editdist", 2),  # pa + pb + short-doc fallback
        ("q_dedup_simhash", 2),  # 4 bands x 2 join sides
        ("q_dedup_embed_cosine", 2),  # bucket self-join a/b
    ):
        opt = (
            qs[key](spark, sf_dir)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert opt.count("InMemoryRelation") >= min_ims, (
            f"{key}: shared-subtree persist missing — the expensive "
            "derivation chain will execute once per consuming subtree"
        )


def test_bounded_group_keys_stay_constant_card(sf_dir):
    """ADVICE r6 tripwire: _BOUNDED_GROUP_KEYS legalizes broadcast
    hints for Aggregates grouped on these names. The fixture-enum
    entries must actually BE bounded in the data — if a future fixture
    (or a data-derived column reusing one of these bare names) pushes
    one past the bound, the allowlist would silently legalize a
    fact-table broadcast. DuckDB scan, no Spark session needed."""
    import duckdb

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.plans.inspect import (
        _BOUNDED_GROUP_KEYS,
    )

    # Probe every parquet fixture table for allowlisted names; names
    # only present in generated/streaming fixtures (page_url, device,
    # city, …) and code-constant derived keys (bkt/cell/m/k/tbl/band/
    # salt) have no parquet column and are skipped. At least the core
    # enum set must resolve, or the test is vacuous.
    import glob
    import os

    con = duckdb.connect()
    checked = set()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.basename(path).removesuffix(".parquet")
        cols = [
            r[0]
            for r in con.execute(
                f"DESCRIBE SELECT * FROM '{path}'"
            ).fetchall()
        ]
        for col in _BOUNDED_GROUP_KEYS & set(cols):
            n = con.execute(
                f'SELECT COUNT(DISTINCT "{col}") FROM \'{path}\''
            ).fetchone()[0]
            assert n <= 64, (
                f"{col} in {table} has {n} distinct values — no longer "
                "a bounded-domain enum; remove it from "
                "_BOUNDED_GROUP_KEYS"
            )
            checked.add(col)
    assert {"event_type", "lang", "source", "o_orderstatus"} <= checked, (
        f"core enum columns missing from fixture scan: {checked}"
    )


def test_dpp_key_injects_dynamic_partition_pruning(spark, sf_dir):
    """q_join_dpp (r8): the served plan's fact scan must carry a
    `dynamicpruning` PartitionFilter — i.e. Catalyst actually turned
    the dim-side literal filter into a runtime partition selection on
    the partitioned event log. Fires under DEFAULT confs (no threshold
    lowering — unlike the runtime bloom filter above), so the same
    injection happens on the driver's vanilla session. Also checks the
    result only contains the 'hot' tier's types: pruning must not
    change semantics."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.joins import (
        q_join_dpp,
    )

    df = q_join_dpp(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    types = {r["event_type"] for r in df.collect()}
    assert types == {"click", "purchase"}, types


def test_dpp_layout_is_deterministic_and_write_once(spark, sf_dir):
    """r9 regression pin (ADVICE r8): the q_join_dpp layout used to go
    to a fresh mkdtemp per cold call — evicting the memo leaked the
    previous directory and every cold bench rep re-wrote the full
    event log, and the dim table re-wrote on EVERY invocation even on
    a memo hit. Now both tables live at one deterministic per-corpus
    path, writes happen only inside the memoized builder, and a
    directory left by an earlier session (validity gated on both
    _SUCCESS markers) is reused byte-for-byte: a warm call AND a
    post-eviction cold call must both write NOTHING."""
    import os as _os

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        session as _session,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
        joins as _joins,
    )

    first = _joins._dpp_layout(spark, sf_dir)
    marks = [
        _os.path.join(first, "fact", "_SUCCESS"),
        _os.path.join(first, "dim", "_SUCCESS"),
    ]
    stamps = [_os.path.getmtime(m) for m in marks]
    # warm (memo hit): same path, no rewrite of either table
    assert _joins._dpp_layout(spark, sf_dir) == first
    # cold (memo evicted, directory intact): reused, still no rewrite
    _session.evict_caches(spark)
    assert _joins._dpp_layout(spark, sf_dir) == first
    assert [_os.path.getmtime(m) for m in marks] == stamps
    # a partial layout (missing _SUCCESS) must NOT be trusted: the
    # builder re-writes it and the marker returns
    _os.remove(marks[1])
    _session.evict_caches(spark)
    assert _joins._dpp_layout(spark, sf_dir) == first
    assert _os.path.isfile(marks[1])
    # a layout whose SOURCE fingerprint no longer matches the corpus
    # (the driver regenerates fixtures at the SAME path every round)
    # must also be rebuilt, NOT served stale (r9 review finding)
    with open(_os.path.join(first, "SOURCE"), "w") as f:
        f.write("someone-elses-corpus|0|0")
    _session.evict_caches(spark)
    assert _joins._dpp_layout(spark, sf_dir) == first
    with open(_os.path.join(first, "SOURCE")) as f:
        assert f.read() == _joins._dpp_fingerprint(sf_dir)


def test_zorder_files_are_tight_on_both_dimensions(spark, sf_dir):
    """q_sink_zorder (r8): the written files' parquet footer min/max
    must be tight on BOTH cluster columns — the property that makes
    multi-dimensional data skipping work. A linear sort on one column
    leaves the other spanning ~100% of its range per file; the z-order
    layout bounds both near the sqrt(1/n_files) curve expectation.
    Asserted from the actual footer statistics of the freshly-written
    files (the exact stats a 100 TB scan would prune with)."""
    import glob as _glob

    import pyarrow.parquet as pq

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
        scans,
    )

    out_holder = {}
    orig_mkdtemp = scans.tempfile.mkdtemp

    def capture_mkdtemp(*a, **kw):
        d = orig_mkdtemp(*a, **kw)
        if kw.get("prefix", "").startswith("aub_zorder") or (
            a and str(a[0]).startswith("aub_zorder")
        ):
            out_holder["dir"] = d
        return d

    scans.tempfile.mkdtemp = capture_mkdtemp
    try:
        scans.q_sink_zorder(spark, sf_dir).collect()
    finally:
        scans.tempfile.mkdtemp = orig_mkdtemp
    files = _glob.glob(out_holder["dir"] + "/*.parquet")
    assert len(files) >= 4, files

    def span_fractions(col):
        glo, ghi, spans = None, None, []
        per_file = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }[col]
            lo = min(
                md.row_group(g).column(idx).statistics.min
                for g in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(g).column(idx).statistics.max
                for g in range(md.num_row_groups)
            )
            per_file.append((lo, hi))
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        return [(hi - lo) / (ghi - glo) for lo, hi in per_file]

    for col in ("o_custkey", "o_totalprice"):
        fracs = span_fractions(col)
        avg = sum(fracs) / len(fracs)
        # 8 range partitions over a 2-D z-curve -> per-dim span ~
        # sqrt(1/8) ~ 0.35; a linear sort on the OTHER column gives ~1.0
        assert avg < 0.6, (col, fracs)


def test_time_interpolate_fills_every_gap_within_bounds(spark, sf_dir):
    """q_time_interpolate (r8): interpolation invariants independent of
    the oracle — every grid row is non-null, every gap's filled value
    lies within [min, max] of its type's observed values (a linear
    interpolant cannot overshoot its brackets), and the non-gap rows
    reproduce the observed hourly means exactly."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.timeseries import (
        q_time_interpolate,
    )

    rows = q_time_interpolate(spark, sf_dir).collect()
    assert rows and all(r["v_fill"] is not None for r in rows)
    by_type: dict[str, list[float]] = {}
    for r in rows:
        if not r["is_gap"]:
            by_type.setdefault(r["event_type"], []).append(r["v_fill"])
    n_gaps = 0
    for r in rows:
        if r["is_gap"]:
            n_gaps += 1
            obs = by_type[r["event_type"]]
            assert min(obs) - 1e-9 <= r["v_fill"] <= max(obs) + 1e-9, r
    assert n_gaps > 0, "fixture produced no gaps — test is vacuous"


def test_lateral_decorrelates_to_window_group_limit(spark, sf_dir):
    """q_sql_lateral (r8): the docstring claims Catalyst decorrelates
    the LATERAL top-2 subquery into WindowGroupLimit + one hash join
    rather than a per-customer nested loop — pin that claim to the
    actual optimized plan so a future Spark upgrade or query edit that
    silently reintroduces a correlated nested loop fails here."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.sql_surface import (
        q_sql_lateral,
    )

    plan = (
        q_sql_lateral(spark, sf_dir)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan
    assert "LateralJoin" not in plan, plan


def test_memoized_caches_reuse_and_evict(spark, sf_dir):
    """r8 cache-ownership contract: the (session, corpus) memos return
    the SAME DataFrame/layout on repeat calls (one persist per session,
    not one per invocation), and session.evict_caches drops the memo
    together with the storage — a memo hit on an unpersisted DataFrame
    would silently recompute without re-caching (the bench.py
    discussion), so the two must always move together."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators import (
        joins,
        timeseries,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
        evict_caches,
    )

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions import (
        sampling,
    )

    b1 = timeseries.hourly_base(spark, sf_dir)
    assert timeseries.hourly_base(spark, sf_dir) is b1
    assert b1.storageLevel.useMemory
    d1 = joins._dpp_layout(spark, sf_dir)
    assert joins._dpp_layout(spark, sf_dir) == d1
    # ADVICE r9: the registered stratified sample memoizes its whole
    # plan (it owns TWO persists — rates + thinned), so repeat sweeps
    # reuse one cache pair instead of stacking fresh entries per call
    s1 = sampling.q_sample_stratified(spark, sf_dir)
    assert sampling.q_sample_stratified(spark, sf_dir) is s1
    n_strat = len(sampling._STRAT_CACHE)
    sampling.q_sample_stratified(spark, sf_dir)
    assert len(sampling._STRAT_CACHE) == n_strat
    evict_caches(spark)
    assert not sampling._STRAT_CACHE
    b2 = timeseries.hourly_base(spark, sf_dir)
    assert b2 is not b1
    assert b2.storageLevel.useMemory
    assert sampling.q_sample_stratified(spark, sf_dir) is not s1


def test_sample_temperature_reads_documents_twice(spark, sf_dir):
    """Late-r8 scan-shape pin (the r8 static audit's queued persist):
    the O(languages) count relation is persisted, so the s/q/m/r
    scalar-rate chain reads ONE InMemoryRelation instead of
    re-expanding through four extra full documents scans. The
    formatted physical plan must show exactly 2 parquet scans —
    populate-the-count + membership, the floor."""
    df = registry.all_queries()["q_sample_temperature"](spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("InMemoryRelation") >= 1
    fmt = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    scans = fmt.count("documents.parquet")
    assert scans == 2, f"expected the 2-scan floor, saw {scans}"


def test_sim_timeseries_reads_events_once(spark, sf_dir):
    """r9 scan-shape pin (ADVICE r8): the O(users × 24) profile
    relation is persisted and shared, so the probe branch (orderBy +
    limit) and the scoring cross join read ONE InMemoryRelation
    instead of each re-planning the full events scan→agg→pivot chain
    (the r8 captured plan showed that chain TWICE). The formatted
    physical plan must show exactly 1 events scan — the cached
    profile build, the floor."""
    df = registry.all_queries()["q_sim_timeseries"](spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("InMemoryRelation") >= 2
    fmt = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    scans = fmt.count("events.parquet")
    assert scans == 1, f"expected the 1-scan floor, saw {scans}"


def test_sample_stratified_reads_documents_thrice(spark, sf_dir):
    """r9 scan-shape pin (the r8 audit's queued persist, landed with
    the key's mandatory r9 window slot): ``rates`` (O(sources)) and
    ``thinned`` (~0.3 % of the corpus) are persisted, so the survivor
    check, the ranked-sample branch, and the fallback membership all
    read InMemoryRelations. Formatted plan at exactly 3 documents
    scans — per-source totals, thinned materialization, the anti-join
    fallback side — down from 9 unpersisted, floor 3."""
    df = registry.all_queries()["q_sample_stratified"](spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("InMemoryRelation") >= 2
    fmt = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    scans = fmt.count("documents.parquet")
    assert scans == 3, f"expected the 3-scan floor, saw {scans}"


@pytest.mark.parametrize(
    "key,table,floor",
    [
        ("q_dedup_ngram_jaccard", "documents.parquet", 4),
        ("q_dedup_containment", "documents.parquet", 4),
        ("q_dedup_editdist", "documents.parquet", 4),
        ("q_dedup_embed_cosine", "embeddings.parquet", 4),
    ],
)
def test_pair_join_keys_sit_at_their_scan_floor(spark, sf_dir, key, table, floor):
    """r10 scan-shape pins (VERDICT r9 item 4): each pair-join dedup
    key reads its corpus exactly 4x by design — postings/bucket build,
    the two verify sides, and the keeper/labeling side — with the
    shared pair relation persisted (InMemoryRelation) so no consumer
    re-derives it through ITS own extra scans.  The r8 q_sim_timeseries
    regression class is a refactor silently dropping a persist and the
    scan count exploding; pin each key at its audited floor so that
    surfaces as a red test, not a bench delta."""
    df = registry.all_queries()[key](spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("InMemoryRelation") >= 1
    fmt = spark._jvm.PythonSQLUtils.explainString(qe, "formatted")
    scans = fmt.count(table)
    assert scans == floor, f"{key}: expected the {floor}-scan floor, saw {scans}"


def test_session_cache_stays_slim_across_full_persisting_sweep(spark):
    """r10 (VERDICT r9 item 6): the _CACHE_OWNERSHIP contract claims
    every session-lifetime persist is a slim projection (ids + hashes,
    never text or embeddings) so the aggregate resident set is
    O(corpus keys).  Measure it: run ALL 14 persisting keys at sf0.1
    in one session and assert the BlockManager total stays under
    256 MB (measured r10: ~48 MB — 5x headroom; the dominant entry is
    the verified-pairs memo, Ω(true pairs) on the pathologically dense
    fixture).  A persist that starts caching document text would blow
    this budget immediately (~5k docs x ~2 KB text x 14 keys alone
    lands near the bound, and the pair tables would multiply it)."""
    import sys

    sys.path.insert(0, TOOLS)
    import cache_pressure

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
        evict_caches,
    )

    rep = cache_pressure.measure(spark, "/root/testdata/sf0.1")
    try:
        budget = 256 * 1024 * 1024
        assert rep["total_bytes"] < budget, rep
        # MEMORY_AND_DISK must spill, never evict: with the set this
        # slim nothing should have reached disk at all
        assert rep["disk_bytes"] == 0, rep
        assert rep["n_cached_rdds"] >= len(cache_pressure.PERSISTING_KEYS) - 3
    finally:
        # sf0.1 relations + memos keyed to a non-default corpus must
        # not leak into later tests' sf0.001 session state
        evict_caches(spark)
