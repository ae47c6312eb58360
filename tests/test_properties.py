"""Property-based tests (hypothesis) for the custom composed operators —
the ones Spark has no native primitive for, where a hand-rolled
composition could silently get edge cases wrong (SURVEY §7 hard parts):

- as-of join: composition (equi-join + ts filter + max reduction) must
  equal the obvious per-row Python definition, including tie and
  no-match cases;
- session windows: Spark's gap-merge semantics vs a direct Python
  gap-scan, including events exactly at the gap boundary;
- prefix-filter similarity join: the lossless-blocking claim — banded
  candidates must find EVERY jaccard ≥ t pair on adversarial corpora;
- binned range join: bin+explode candidates must find every |Δ| ≤ band
  pair, including exact-boundary deltas;
- connected components: min-label propagation vs a Python union-find.

Examples are kept small (Spark job per example); hypothesis explores the
structure space (duplicates, ties, boundaries) rather than data volume.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = datetime(2024, 1, 1)

events_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (user, minute)
    min_size=1,
    max_size=25,
)
orders_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (cust, minute)
    min_size=0,
    max_size=25,
)


@pytest.fixture(scope="module")
def pb_spark(spark):
    return spark


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, orders=orders_strategy)
def test_asof_join_matches_python_reference(pb_spark, events, orders):
    spark = pb_spark
    ev = spark.createDataFrame(
        [
            (i, u, BASE + timedelta(minutes=m))
            for i, (u, m) in enumerate(events)
        ],
        "event_id long, user_id long, ts timestamp",
    )
    od = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=m)) for u, m in orders],
        "o_custkey long, o_orderdate timestamp",
    ) if orders else spark.createDataFrame([], "o_custkey long, o_orderdate timestamp")

    # the q_join_asof composition (joins.py): equi + range filter + max
    joined = ev.join(
        od, (ev.user_id == od.o_custkey) & (ev.ts >= od.o_orderdate), "inner"
    )
    got = {
        r.event_id: r.asof
        for r in joined.groupBy("event_id")
        .agg(F.max("o_orderdate").alias("asof"))
        .collect()
    }

    # per-row Python definition: latest order date <= event ts, same user
    for i, (u, m) in enumerate(events):
        ts = BASE + timedelta(minutes=m)
        cands = [
            BASE + timedelta(minutes=om)
            for ou, om in orders
            if ou == u and BASE + timedelta(minutes=om) <= ts
        ]
        if cands:
            assert got[i] == max(cands), (i, u, m)
        else:
            assert i not in got  # inner semantics: no match → no row


# Small shared vocabulary forces high-overlap pairs straddling the
# jaccard threshold — the adversarial regime for prefix filtering.
docs_strategy = st.lists(
    st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=6),
    min_size=2,
    max_size=10,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=docs_strategy)
def test_prefix_filter_join_is_lossless(pb_spark, docs):
    """Every pair with jaccard ≥ 0.5 must be found — the prefix-filter
    blocking claims to be lossless, so a single missed pair on ANY
    corpus falsifies it."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        prefix_filtered_jaccard_join,
    )

    spark = pb_spark
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filtered_jaccard_join(df).collect()
    }
    sets = [set(ws) for ws in docs]
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= 0.5:
                want.add((a, b))
    assert got == want, (sorted(want - got), sorted(got - want))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=docs_strategy,
    threshold=st.sampled_from([0.6, 0.75, 0.8, 0.9, 0.95]),
)
def test_prefix_filter_lossless_at_any_threshold(pb_spark, docs, threshold):
    """The threshold parameter (added for q_dedup_near's 0.95 recall
    invariant) must keep the blocking lossless at EVERY threshold: the
    prefix length p = n − ⌈t·n⌉ + 1 uses exact-rational integer ceil,
    because float ⌈t·n⌉ can land one ulp high (0.95×20 →
    19.000000000000004) and silently shorten the prefix. Tiny docs
    (1-6 tokens) put every example on an integer boundary."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        prefix_filtered_jaccard_join,
    )

    spark = pb_spark
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filtered_jaccard_join(df, threshold=threshold).collect()
    }
    sets = [set(ws) for ws in docs]
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= threshold:
                want.add((a, b))
    assert got == want, (threshold, sorted(want - got), sorted(got - want))


prices_strategy = st.lists(
    # multiples of 50 land deltas exactly ON the ±100 boundary; None
    # exercises the helper's explicit NULL-range contract (emit 0
    # twins, never count as anyone's twin) — r12, after the r11
    # self-count rewrite narrowed it to a comment-only precondition
    st.one_of(
        st.none(),
        st.integers(0, 10).map(lambda k: k * 50.0),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(prices=prices_strategy)
def test_binned_range_join_matches_bruteforce(pb_spark, prices):
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.joins import (
        _TWIN_BAND,
        binned_band_self_join,
    )

    spark = pb_spark
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(prices)],
        "o_orderkey long, o_totalprice double",
    )
    got = {
        r.o_orderkey: r.n_price_twins
        for r in binned_band_self_join(df).collect()
    }
    for i, p in enumerate(prices):
        want = (
            0
            if p is None
            else sum(
                1
                for k, q in enumerate(prices)
                if k != i and q is not None and abs(p - q) <= _TWIN_BAND
            )
        )
        assert got[i] == want, (i, p)


edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0,
    max_size=15,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=edges_strategy)
def test_connected_components_match_union_find(pb_spark, edges):
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        connected_components,
    )

    spark = pb_spark
    n = 10
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edf = (
        spark.createDataFrame(edges, "u long, v long")
        if edges
        else spark.createDataFrame([], "u long, v long")
    )
    # scatter across more partitions than edges so _forest_contract's
    # per-partition pass sees arbitrary (often empty or 1-edge) views
    edf = edf.repartition(7)
    got = {
        r.doc_id: r.label for r in connected_components(nodes, edf).collect()
    }

    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    for i in range(n):
        assert got[i] == find(i), (i, edges)


def test_connected_components_high_diameter_path(pb_spark):
    """A 10k-node path graph has diameter 9999 — min-label propagation
    (the r3 implementation) needed diameter rounds and raised at its 50-
    round budget. Small-star/large-star must label it within an O(log n)
    budget: 30 rounds ≫ ~2·log₂(10k)≈27 but ≪ the 9999 a diameter-bound
    algorithm needs, so passing PROVES logarithmic convergence
    (VERDICT r3 item 5)."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        connected_components,
    )

    spark = pb_spark
    n = 10_000
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    )
    got = {
        r.doc_id: r.label
        for r in connected_components(nodes, edges, max_iters=30).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_scattered_partitions(pb_spark):
    """r8 regression pin for _forest_contract: the per-partition
    contraction must stay lossless under ADVERSARIAL partitioning.
    Scattering a path graph's edges round-robin across 37 partitions
    puts adjacent edges in different tasks, so each local forest sees
    mostly-disjoint fragments and the star rounds must stitch them —
    the hostile case for any partition-local shortcut."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        connected_components,
    )

    spark = pb_spark
    n = 5_000
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u long, v long"
    ).repartition(37)
    got = {
        r.doc_id: r.label
        for r in connected_components(nodes, edges, max_iters=30).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_forest_contract_chunked_fold_lossless(pb_spark, monkeypatch):
    """r9 regression pin for the bounded-memory contraction fold
    (ADVICE r8: _forest_contract used to concatenate a whole
    partition's edges into executor memory; it now folds them into a
    running star forest in _CONTRACT_CHUNK_EDGES-sized chunks). The
    chunk size must be a pure memory knob, NOT a correctness knob:
    with the chunk forced down to 4 edges (hundreds of folds per task
    on a 5k-edge path) the final CC labels must be identical to the
    union-find answer. Mixed shapes — a path (every fold's forest
    chains into the next chunk), cliques (folds collapse densely), and
    isolates — and adversarial round-robin partitioning."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions import (
        dedup,
    )

    monkeypatch.setattr(dedup, "_CONTRACT_CHUNK_EDGES", 4)
    spark = pb_spark
    n = 5_000
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    path = [(i, i + 1) for i in range(n - 2)]  # n-2, n-1 stay apart
    clique = [
        (5000 - 32 + a, 5000 - 32 + b)
        for a in range(32)
        for b in range(a + 1, 32)
    ]  # overlaps the path tail: merges the last clique into it
    edges = spark.createDataFrame(path + clique, "u long, v long").repartition(
        13
    )
    got = {
        r.doc_id: r.label
        for r in dedup.connected_components(
            nodes, edges, max_iters=30
        ).collect()
    }
    # path 0..4998 ∪ clique 4968..4999 = one component rooted at 0;
    # node 4999 joins via the clique even though the path skips it
    assert got == {i: 0 for i in range(n)}


def test_editdist_location_prefix_boundary(pb_spark):
    """r8 regression pin for the Ed-Join location-aware prefix: on a
    long doc with spread-out unique grams the shortened prefix engages
    (far below the classic D·q+1), and pairs at EXACTLY the threshold
    must still be found while one-past-threshold pairs must not. A
    shared-no-grams short pair pins the fallback path alongside."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        qgram_blocked_editdist_join,
    )

    spark = pb_spark
    base = "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOPQRSTUV"
    at_threshold = list(base)
    for pos in (3, 17, 31, 45):  # 4 spread substitutions → ed == 4
        at_threshold[pos] = "#"
    past_threshold = list(base)
    for pos in (3, 12, 21, 35, 49):  # 5 substitutions → ed == 5
        past_threshold[pos] = "%"
    docs = [
        (0, base),
        (1, "".join(at_threshold)),
        (2, "".join(past_threshold)),
        (3, "zzzz"),  # short pair: shares no gram with doc 4
        (4, "yyyy"),  # but ed(zzzz, yyyy) = 4 <= D -> fallback must find it
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in qgram_blocked_editdist_join(df, max_dist=4, q=4).collect()
    }
    assert got == {(0, 1): 4, (3, 4): 4}, got


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy)
def test_session_window_matches_gap_scan(pb_spark, events):
    spark = pb_spark
    gap_min = 10
    df = spark.createDataFrame(
        [(u, BASE + timedelta(minutes=m)) for u, m in events],
        "user_id long, ts timestamp",
    )
    got = sorted(
        (r.user_id, r.w.start, r.n)
        for r in df.groupBy(
            F.session_window("ts", f"{gap_min} minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )

    # Python gap-scan: Spark merges an event exactly at last_ts + gap
    # (hypothesis counterexample [(0,0),(0,10)] pinned this) — a new
    # session starts only when the gap is STRICTLY greater
    sessions: list[tuple[int, datetime, int]] = []
    by_user: dict[int, list[datetime]] = {}
    for u, m in events:
        by_user.setdefault(u, []).append(BASE + timedelta(minutes=m))
    for u, tss in by_user.items():
        tss.sort()
        start, n, last = tss[0], 0, None
        for ts in tss:
            if last is not None and (ts - last) > timedelta(minutes=gap_min):
                sessions.append((u, start, n))
                start, n = ts, 0
            n += 1
            last = ts
        sessions.append((u, start, n))
    assert got == sorted(sessions)


def test_connected_components_reliable_checkpoint_path(pb_spark, tmp_path):
    """The conf-gated reliable-checkpoint variant (VERDICT r4 item 4)
    must produce identical labels AND actually write round state to the
    checkpoint store (the fault-tolerance property localCheckpoint
    lacks: executor-resident blocks die with the executor)."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        connected_components,
    )

    spark = pb_spark
    nodes = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    # two path components + isolated nodes
    pairs = [(i, i + 1) for i in range(0, 9)] + [
        (i, i + 1) for i in range(10, 19)
    ]
    edges = spark.createDataFrame(pairs, "u long, v long")
    expect = {
        r.doc_id: r.label for r in connected_components(nodes, edges).collect()
    }

    ckdir = str(tmp_path / "cc_ck")
    spark.sparkContext.setCheckpointDir(ckdir)
    spark.conf.set("spark.sql.ccReliableCheckpoint", "true")
    try:
        got = {
            r.doc_id: r.label
            for r in connected_components(nodes, edges).collect()
        }
    finally:
        spark.conf.set("spark.sql.ccReliableCheckpoint", "false")
    assert got == expect
    import os

    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckdir)
        for f in fs
    ]
    assert written, "reliable path wrote nothing to the checkpoint dir"


# XML writer/reader round-trip (VERDICT r4 item 6): q_source_xml's
# driver check exercises escaping only through part-name punctuation.
# This drives Spark 4's native xml format with adversarial strings:
# entity metacharacters, CDATA terminators, quotes, non-BMP codepoints,
# whitespace-edge and whitespace-only values.
_xml_value_strategy = st.lists(
    st.one_of(
        st.text(
            alphabet=st.sampled_from(list("&<>\"' ]>[!-Az\u00c5\u00e9\U0001f600\u2603")),
            min_size=0,
            max_size=12,
        ),
        st.sampled_from(
            ["]]>", "<![CDATA[x]]>", "&amp;", "&#10;", "  pad  ", " ok"]
        ),
    ),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=_xml_value_strategy)
def test_xml_roundtrip_escaping(pb_spark, values):
    import tempfile

    spark = pb_spark
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id bigint, payload string")
    with tempfile.TemporaryDirectory(prefix="aub_xmlprop_") as out:
        df.write.mode("overwrite").option("rootTag", "rows").option(
            "rowTag", "row"
        ).xml(out)
        back = (
            spark.read.schema("id bigint, payload string")
            .option("rowTag", "row")
            # default trims surrounding whitespace — disable to prove the
            # escaping itself round-trips whitespace-edge values
            .option("ignoreSurroundingSpaces", "false")
            .xml(out)
        )
        got = {(r.id, r.payload) for r in back.collect()}
        assert got == set(rows)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=docs_strategy,
    threshold=st.sampled_from([0.5, 0.8, 0.9, 0.95]),
)
def test_containment_join_is_lossless(pb_spark, docs, threshold):
    """The asymmetric prefix filter (smaller doc's rare-token prefix vs
    full postings) claims losslessness for overlap coefficient
    |A∩B|/min(|A|,|B|) ≥ t — one missed pair on any corpus, at any
    threshold (including sets fully contained in bigger ones and
    equal-size ties), falsifies it."""
    from fractions import Fraction

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        prefix_filtered_containment_join,
    )

    spark = pb_spark
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filtered_containment_join(
            df, threshold=threshold
        ).collect()
    }
    t = Fraction(str(threshold))
    sets = [set(ws) for ws in docs]
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            mn = min(len(sets[a]), len(sets[b]))
            if inter * t.denominator >= t.numerator * mn:
                want.add((a, b))
    assert got == want, (sorted(want - got), sorted(got - want))


# Edit-distance join: adversarial regime is SHORT strings over a tiny
# alphabet — everything lands in the short-doc fallback AND the q-gram
# guarantee is at its weakest (few distinct grams), so a losslessness
# bug in either path surfaces here. Longer random strings exercise the
# main prefix path (q=2, d=1 → guarantee needs >2 distinct 2-grams).
_ed_docs_strategy = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=12),
    min_size=2,
    max_size=8,
)


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                )
            )
        prev = cur
    return prev[len(b)]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_ed_docs_strategy, max_dist=st.sampled_from([1, 2, 3]))
def test_editdist_join_is_lossless(pb_spark, docs, max_dist):
    """Every pair within edit distance ≤ d must be found — the q-gram
    prefix blocking plus short-doc fallback claims to be lossless, so
    a single missed pair on ANY corpus falsifies it."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        qgram_blocked_editdist_join,
    )

    spark = pb_spark
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in qgram_blocked_editdist_join(
            df, max_dist=max_dist, q=2
        ).collect()
    }
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            d = _py_levenshtein(docs[a], docs[b])
            if d <= max_dist:
                want[(a, b)] = d
    assert got == want, (want, got)


def test_editdist_nonascii_parity_guard(pb_spark, tmp_path):
    """q_dedup_editdist and its DuckDB oracle must agree on a corpus
    CONTAINING non-ASCII docs: both sides restrict to byte-clean text
    (DuckDB levenshtein is byte-based, Spark's codepoint-based — they
    diverge off ASCII), so the non-ASCII doc pair must vanish from
    BOTH engines while the ASCII near-pair survives."""
    import os

    import duckdb

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        q_dedup_editdist,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.registry import (
        all_oracles,
    )

    spark = pb_spark
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cog"),  # ed 1
        (3, "thé quick brown fox jumps over the lazy dog"),  # non-ASCII
        (4, "thé quick brown fox jumps over the lazy cog"),  # non-ASCII
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = sorted(
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in q_dedup_editdist(spark, d).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(d, 'documents.parquet')}/*.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.execute(all_oracles()["q_dedup_editdist"]).fetchall()
    )
    assert got == want == [(1, 2, 1)], (got, want)


# ------------------------------------------------------------- attribution
# Differential property test for q_event_attribution (staged r8, registered
# r9 — note in operators/behavior.py): random event logs with
# timestamp ties and >24h gaps, checked against an independent pure-Python
# last-touch reference (NOT the shared-design SQL oracle).

_attr_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 3000),  # minute (spans past the 1440-min lookback)
        st.integers(0, 2),  # 0=view 1=click 2=purchase
        st.integers(0, 7),  # props k
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_attr_events_strategy)
def test_attribution_matches_python_reference(pb_spark, events):
    import os
    import tempfile

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.behavior import (
        _ATTR_CHANNELS,
        q_event_attribution,
    )

    spark = pb_spark
    types = ("view", "click", "purchase")
    rows = [
        (i, BASE + timedelta(minutes=m), u, types[t], float(k) + 0.5, k)
        for i, (u, m, t, k) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory(prefix="aub_attrprop_") as d:
        spark.createDataFrame(
            [(i, ts, u, et, v, '{"k": %d}' % k) for i, ts, u, et, v, k in rows],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )

        # independent reference: linear scan per user over the (ts, event_id)
        # total order, inclusive 24h lookback
        ref: dict[str, list] = {}
        by_user: dict[int, list] = {}
        for r in rows:
            by_user.setdefault(r[2], []).append(r)
        for evs in by_user.values():
            evs.sort(key=lambda r: (r[1], r[0]))
            last = None  # (ts, channel)
            for eid, ts, u, et, v, k in evs:
                if et in ("view", "click"):
                    last = (ts, _ATTR_CHANNELS[k % 4])
                elif et == "purchase":
                    ch = "organic"
                    if last is not None and ts - last[0] <= timedelta(hours=24):
                        ch = last[1]
                    agg = ref.setdefault(ch, [0, 0.0])
                    agg[0] += 1
                    agg[1] += v
        want = {ch: (n, pytest.approx(rev)) for ch, (n, rev) in ref.items()}

        got = {
            r["channel"]: (r["conversions"], r["revenue"])
            for r in q_event_attribution(spark, d).collect()
        }
        assert got == want


# Tiny alphabet + sub-word-width window: shared spans, within-doc-only
# repeats and sub-width docs all occur constantly — the regimes where
# the postings pipeline (explode -> distinct-doc freq -> join-back)
# could silently diverge from the ExactSubstr definition.
_substr_docs_strategy = st.lists(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=7),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_substr_docs_strategy)
def test_substring_dup_stats_match_python_reference(pb_spark, docs):
    """q_dedup_substring core vs the literal Lee-et-al definition: a
    k-word window is a duplicated span iff its exact text occurs in
    >= 2 DISTINCT documents.  The constructed-corpus test pins chosen
    shapes; this drives random ones, in particular windows repeated
    several times WITHIN one document only (not duplicates — the
    distinct-doc frequency must not count multiplicity) and every
    occurrence of a cross-doc span counting on all sides."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        substring_dup_stats,
    )

    k = 2  # narrow width so 7-token docs over {a,b,c} collide often
    spark = pb_spark
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in substring_dup_stats(df, k=k).collect()}

    windows: dict[int, list[str]] = {
        i: [
            " ".join(toks[j : j + k])
            for j in range(len(toks) - k + 1)
        ]
        if len(toks) >= k
        else []
        for i, toks in enumerate(docs)
    }
    owners: dict[str, set[int]] = {}
    for i, ws in windows.items():
        for w in ws:
            owners.setdefault(w, set()).add(i)

    assert set(got) == set(windows)  # one row per document, always
    for i, ws in windows.items():
        nd = sum(1 for w in ws if len(owners[w]) > 1)
        r = got[i]
        assert r["n_shingles"] == len(ws), (i, docs)
        assert r["n_dup_shingles"] == nd, (i, docs)
        assert r["has_dup_span"] == (1 if nd else 0), (i, docs)
        want_frac = round(nd / len(ws), 6) if ws else 0.0
        assert r["dup_span_frac"] == pytest.approx(want_frac), (i, docs)


# Sparse (type, hour, value) observations: leading/trailing gap runs,
# single-observation types and uneven bracketing distances all occur —
# the regimes where the bracketing-window composition (last/first
# ignorenulls over the calendar grid) could diverge from the plain
# per-type linear-interpolation definition.
_interp_series_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),  # event_type
        st.integers(0, 40),  # hour offset
        st.integers(0, 100),  # quarter-value
    ),
    min_size=1,
    max_size=15,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(points=_interp_series_strategy)
def test_interpolate_series_matches_python_reference(pb_spark, points):
    """q_time_interpolate core vs the obvious per-type definition:
    known hours keep their value, interior gaps interpolate linearly
    between the bracketing observations on epoch seconds, and hours
    before the first / after the last observation take the nearest
    edge value.  The grid spans the GLOBAL min..max hour crossed with
    every observed type, so a type can be a gap across whole spans it
    never observed."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.timeseries import (
        interpolate_series,
    )

    spark = pb_spark
    known: dict[tuple[int, int], float] = {}
    for t, hh, q in points:
        known.setdefault((t, hh), q / 4.0)
    base = spark.createDataFrame(
        [
            (BASE + timedelta(hours=hh), f"t{t}", v)
            for (t, hh), v in known.items()
        ],
        "h timestamp, event_type string, v double",
    )
    got = {
        (r["event_type"], r["hour_iso"]): (r["v_fill"], r["is_gap"])
        for r in interpolate_series(base).collect()
    }

    lo = min(hh for _, hh in known)
    hi = max(hh for _, hh in known)
    types = sorted({t for t, _ in known})
    want = {}
    for t in types:
        obs = sorted(hh for tt, hh in known if tt == t)
        for hh in range(lo, hi + 1):
            key = (f"t{t}", (BASE + timedelta(hours=hh)).strftime("%Y-%m-%d %H:00"))
            if (t, hh) in known:
                want[key] = (known[(t, hh)], False)
                continue
            prevs = [o for o in obs if o < hh]
            nxts = [o for o in obs if o > hh]
            if prevs and nxts:
                p, n = max(prevs), min(nxts)
                pv, nv = known[(t, p)], known[(t, n)]
                v = pv + (nv - pv) * (hh - p) / (n - p)
            elif prevs:
                v = known[(t, max(prevs))]
            else:
                v = known[(t, min(nxts))]
            want[key] = (v, True)
    assert set(got) == set(want)
    for key, (v, gap) in want.items():
        assert got[key][1] == gap, (key, points)
        assert got[key][0] == pytest.approx(v, abs=1e-6), (key, points)


# Token counts drawn around the tiny budget (7) so documents regularly
# land exactly on, just under and just over sequence boundaries, and
# whole sources sum to exact budget multiples — the off-by-one regimes
# of the two-phase (per-source running sum + offset-of-totals)
# distributed prefix sum.
_pack_docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # source
        st.sampled_from([1, 2, 6, 7, 8, 13, 14, 21]),  # n_tokens
    ),
    min_size=1,
    max_size=16,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_pack_docs_strategy)
def test_pack_token_stream_matches_sequential_fold(pb_spark, docs):
    """q_pack_sequences core vs the sequential definition: concatenate
    documents in (source, doc_id) order and tile the stream into
    budget-token sequences — each document's first/last sequence ids
    and boundary-split count must equal a plain running-total fold.
    The fixture test pins tiling invariants on real data; this pins
    the two-phase prefix-sum against the one-reducer semantics it
    replaces, where any offset error shows up as a shifted seq id."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.sampling import (
        pack_token_stream,
    )

    budget = 7
    spark = pb_spark
    rows = [(i, f"s{s}", n) for i, (s, n) in enumerate(docs)]
    tok = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long"
    ).repartition(4)  # prefix-sum correctness must not depend on layout
    got = {
        r["doc_id"]: (r["first_seq"], r["last_seq"], r["n_splits"])
        for r in pack_token_stream(tok, budget=budget).collect()
    }

    cum = 0
    want = {}
    for i, src, n in sorted(rows, key=lambda r: (r[1], r[0])):
        first = cum // budget
        cum += n
        last = (cum - 1) // budget
        want[i] = (first, last, last - first)
    assert got == want, docs


# Language mixes from skewed to uniform, with duplicate texts within
# and across languages — the regimes where the alpha-mixture rates and
# the content-hash membership rule interact (duplicates must decide
# identically; the scarcest up-weighted language is consumed whole).
_temp_docs_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 30)),  # (lang, word id)
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_temp_docs_strategy)
def test_temperature_sample_matches_python_mirror(pb_spark, docs):
    """q_sample_temperature core vs an exact Python mirror: per-lang
    counts -> sqrt-share (alpha = 0.5) -> cap at the scarcest
    up-weighted language -> integer ppm thresholds (HALF_UP, like
    Spark's round) -> md5-first-8-hex ppm bucket membership.  The
    double arithmetic is mirrored operation-for-operation in the same
    association order, so the only conceivable divergence is a sum
    re-ordering ulp landing exactly on a .5-ppm rounding boundary —
    not reachable from integer counts this size."""
    import math
    from decimal import ROUND_HALF_UP, Decimal
    from hashlib import md5

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.sampling import (
        _PPM,
        temperature_sample,
    )

    spark = pb_spark
    rows = [
        (i, f"l{g}", f"w{w} of lang {g}") for i, (g, w) in enumerate(docs)
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["doc_id"], r["lang"])
        for r in temperature_sample(d).collect()
    }

    counts: dict[str, int] = {}
    for _, lang, _t in rows:
        counts[lang] = counts.get(lang, 0) + 1
    tot = sum(math.sqrt(n) for _, n in sorted(counts.items()))
    ql = {lang: math.sqrt(n) / tot for lang, n in counts.items()}
    cap = min(n / ql[lang] for lang, n in counts.items())
    thr = {
        lang: int(
            Decimal(cap * ql[lang] / n * _PPM).quantize(
                Decimal(1), ROUND_HALF_UP
            )
        )
        for lang, n in counts.items()
    }
    want = {
        (i, lang)
        for i, lang, text in rows
        if int(md5(text.encode()).hexdigest()[:8], 16) % _PPM < thr[lang]
    }
    assert got == want, (docs, thr)
    # the scarcest up-weighted language is consumed whole by design
    argmin = min(counts, key=lambda l: counts[l] / ql[l])
    assert {i for i, l, _ in rows if l == argmin} <= {
        i for i, l in want
    }, (docs, thr)


# At k=1..3 with ~2-30 docs per source the adaptive pre-thinning rate
# drops below 100, so BOTH internal paths run across examples: sources
# whose low buckets survive the thin, and (Chernoff-tail) sources that
# under-thin and fall back to their full rows.  The rank definition is
# path-independent; the reference computes it directly.
_strat_docs_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 60)),  # (source, word)
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_strat_docs_strategy, k=st.sampled_from([1, 2, 3]))
def test_stratified_sample_matches_rank_definition(pb_spark, docs, k):
    """q_sample_stratified core vs the plain definition: per source,
    the first min(k, n) documents in (md5-bucket, md5-hex, doc_id)
    order with their 1-based rank — regardless of which internal
    route (pre-thin or fallback) produced them.  Duplicate texts tie
    on bucket AND hash and must resolve by doc_id."""
    from hashlib import md5

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.sampling import (
        stratified_sample,
    )

    spark = pb_spark
    rows = [(i, f"src{s}", f"w{w}") for i, (s, w) in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["doc_id"], r["source"], r["rk"])
        for r in stratified_sample(d, k=k).collect()
    }

    want = set()
    for src in {s for _, s, _ in rows}:
        members = [
            (
                int(md5(t.encode()).hexdigest()[:8], 16) % 100,
                md5(t.encode()).hexdigest(),
                i,
            )
            for i, s, t in rows
            if s == src
        ]
        members.sort()
        for rk, (_b, _h, i) in enumerate(members[:k], start=1):
            want.add((i, src, rk))
    assert got == want, (docs, k)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_strat_docs_strategy)
def test_mixture_sample_matches_rate_table(pb_spark, docs):
    """q_sample_mixture core vs the literal per-source rate table on
    the same md5 percent buckets: src0 keeps everything, src1 keeps
    buckets < 50, the tail keeps buckets < 10 — and duplicate texts
    decide identically everywhere."""
    from hashlib import md5

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.sampling import (
        mixture_sample,
    )

    spark = pb_spark
    rows = [(i, f"src{s}", f"w{w}") for i, (s, w) in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["doc_id"], r["source"]) for r in mixture_sample(d).collect()
    }
    rates = {"src0": 100, "src1": 50, "src2": 10}
    want = {
        (i, s)
        for i, s, t in rows
        if int(md5(t.encode()).hexdigest()[:8], 16) % 100 < rates[s]
    }
    assert got == want, docs


# Token streams with repeats and occasional empty tokens (double
# spaces survive split() identically in both engines); width-5
# shingles over a small vocabulary land in bucket 0 often enough that
# multi-chunk documents are routine.
_chunk_docs_strategy = st.lists(
    st.lists(st.integers(0, 11), min_size=0, max_size=20),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_chunk_docs_strategy)
def test_chunk_tokens_match_python_reference(pb_spark, docs):
    """q_text_chunk core vs the literal CDC definition: token i starts
    a boundary iff its width-W shingle exists (i <= n-W+1) and the
    shingle's md5-first-8-hex lands in bucket 0 of D; chunk sizes are
    the run lengths of the boundary prefix sum.  The edit-stability
    test pins the CDC property; this pins the exact segmentation,
    including sub-width documents (one chunk) and empty-token runs."""
    from hashlib import md5

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.text import (
        _CHUNK_D,
        _SHINGLE_W,
        chunk_tokens,
    )

    spark = pb_spark
    # word id 11 becomes the empty token -> consecutive spaces in text
    rows = [
        (i, " ".join("" if w == 11 else f"w{w}" for w in ws))
        for i, ws in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["chunk_no"]): r["n_tokens"]
        for r in chunk_tokens(df).collect()
    }

    want = {}
    for i, text in rows:
        words = text.split(" ")
        n = len(words)
        chunk = 0
        for pos in range(n):
            if pos + 1 <= n - _SHINGLE_W + 1:
                sh = " ".join(words[pos : pos + _SHINGLE_W])
                if int(md5(sh.encode()).hexdigest()[:8], 16) % _CHUNK_D == 0:
                    chunk += 1
            want[(i, chunk)] = want.get((i, chunk), 0) + 1
    assert got == want, docs


# Few users, a handful of minutes, three event types: timestamp ties
# within and across types are routine, which is exactly where the
# funnel's strictly-after layer conditions (> not >=) live.
_funnel_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 5),  # minute
        st.integers(0, 2),  # 0=view 1=click 2=purchase
    ),
    min_size=1,
    max_size=20,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_funnel_events_strategy)
def test_funnel_stages_match_python_fold(pb_spark, events):
    """q_funnel_conversion core vs the literal layered definition:
    t_view = first view; t_click = first click STRICTLY after t_view;
    t_purchase = first purchase STRICTLY after t_click; stage counts
    and ratios follow.  A click at exactly t_view (or a purchase at
    exactly t_click) must NOT advance the funnel."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.operators.behavior import (
        funnel_stages,
    )

    spark = pb_spark
    types = ("view", "click", "purchase")
    df = spark.createDataFrame(
        [
            (u, types[t], BASE + timedelta(minutes=m))
            for u, m, t in events
        ],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        r["stage"]: (r["n_users"], r["pct_of_prev"])
        for r in funnel_stages(df).collect()
    }

    users = {u for u, _, _ in events}
    n_view = n_click = n_purchase = 0
    for u in users:
        mine = [(m, t) for uu, m, t in events if uu == u]
        views = [m for m, t in mine if t == 0]
        if not views:
            continue
        n_view += 1
        t_view = min(views)
        clicks = [m for m, t in mine if t == 1 and m > t_view]
        if not clicks:
            continue
        n_click += 1
        t_click = min(clicks)
        if any(m > t_click for m, t in mine if t == 2):
            n_purchase += 1
    n_total = len(users)
    want = {
        1: (n_view, pytest.approx(round(n_view / n_total, 6))),
        2: (
            n_click,
            pytest.approx(round(n_click / n_view, 6)) if n_view else None,
        ),
        3: (
            n_purchase,
            pytest.approx(round(n_purchase / n_click, 6))
            if n_click
            else None,
        ),
    }
    assert got == want, events


# Few users and minutes over three event types: identical timestamps
# within a user are routine, so every (ts, event_id) tie-break in the
# shared clickstream total order is exercised — transitions, dwell and
# trigram paths must all read the SAME deterministic sequence.
_seq_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 2),  # user
        st.integers(0, 8),  # minute
        st.integers(0, 2),  # 0=view 1=click 2=purchase
    ),
    min_size=3,
    max_size=22,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_seq_events_strategy)
def test_total_order_sequence_queries_match_python(pb_spark, events):
    """q_event_transitions / q_event_dwell / q_path_topk vs one Python
    reference over the (ts, event_id) per-user total order.  With
    heavy timestamp ties the lead-1/lead-2 sequences are only
    deterministic because of the event_id tie-break — all three
    queries must agree with the reference's single sorted pass."""
    import os
    import tempfile

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
    )

    spark = pb_spark
    types = ("view", "click", "purchase")
    rows = [
        (i, BASE + timedelta(minutes=m), u, types[t], 1.0, "{}")
        for i, (u, m, t) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory(prefix="aub_seqprop_") as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        qs = registry.all_queries()

        # one sorted pass builds every per-user sequence
        by_user: dict[int, list] = {}
        for eid, ts, u, et, _v, _p in rows:
            by_user.setdefault(u, []).append((ts, eid, et))
        seqs = {
            u: [et for _ts, _eid, et in sorted(evs)]
            for u, evs in by_user.items()
        }
        times = {
            u: [ts for ts, _eid, _et in sorted(evs)]
            for u, evs in by_user.items()
        }

        # transitions
        pair_n: dict[tuple[str, str], int] = {}
        for u, s in seqs.items():
            for a, b in zip(s, s[1:]):
                pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
        src_tot: dict[str, int] = {}
        for (a, _b), n in pair_n.items():
            src_tot[a] = src_tot.get(a, 0) + n
        want_tr = {
            (a, b): (n, pytest.approx(round(n / src_tot[a], 6)))
            for (a, b), n in pair_n.items()
        }
        got_tr = {
            (r["src"], r["dst"]): (r["n"], r["p_transition"])
            for r in qs["q_event_transitions"](spark, d).collect()
        }
        assert got_tr == want_tr, events

        # dwell
        def qlin(vals, q):
            vals = sorted(vals)
            pos = q * (len(vals) - 1)
            lo = int(pos)
            hi = min(lo + 1, len(vals) - 1)
            return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)

        dw: dict[str, list[int]] = {}
        for u, s in seqs.items():
            ts = times[u]
            for i in range(len(s) - 1):
                ms = int((ts[i + 1] - ts[i]).total_seconds() * 1000)
                dw.setdefault(s[i], []).append(ms)
        want_dw = {
            et: (
                len(v),
                pytest.approx(round(sum(v) / len(v), 4)),
                pytest.approx(round(qlin(v, 0.5), 4)),
                pytest.approx(round(qlin(v, 0.95), 4)),
            )
            for et, v in dw.items()
        }
        got_dw = {
            r["event_type"]: (
                r["n"],
                r["avg_dwell_ms"],
                r["p50_dwell_ms"],
                r["p95_dwell_ms"],
            )
            for r in qs["q_event_dwell"](spark, d).collect()
        }
        assert got_dw == want_dw, events

        # top-10 trigram paths, (n DESC, path ASC) total order
        tri: dict[str, int] = {}
        for u, s in seqs.items():
            for i in range(len(s) - 2):
                p = ">".join(s[i : i + 3])
                tri[p] = tri.get(p, 0) + 1
        want_paths = sorted(tri.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got_paths = [
            (r["path"], r["n"]) for r in qs["q_path_topk"](spark, d).collect()
        ]
        assert got_paths == want_paths, events


# Users first seen on scattered days with activity spread over ~3
# weeks: day boundaries, week-offset floors and the
# distinct-user-per-(cohort, offset) rule all get exercised.
_cohort_events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 20),  # day offset
        st.integers(0, 23),  # hour
    ),
    min_size=1,
    max_size=24,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=_cohort_events_strategy)
def test_cohort_and_growth_match_python_reference(pb_spark, events):
    """q_cohort_retention / q_growth_accounting vs one Python pass over
    the same stream: cohort = first-seen DAY (not timestamp), week
    offsets floor day-diff / 7, retention counts DISTINCT users per
    (cohort, offset); growth counts per-day actives, first-day news and
    the running distinct-user total over the observed day sequence."""
    import os
    import tempfile

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
    )

    spark = pb_spark
    rows = [
        (i, BASE + timedelta(days=dd, hours=hh), u, "view", 1.0, "{}")
        for i, (u, dd, hh) in enumerate(events)
    ]
    with tempfile.TemporaryDirectory(prefix="aub_cohortprop_") as d:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        qs = registry.all_queries()

        days = {}  # user -> set of day offsets
        for _i, ts, u, _et, _v, _p in rows:
            days.setdefault(u, set()).add((ts.date() - BASE.date()).days)
        first = {u: min(ds) for u, ds in days.items()}

        # cohort retention
        cells: dict[tuple[int, int], set[int]] = {}
        for u, ds in days.items():
            for dd in ds:
                off = (dd - first[u]) // 7
                cells.setdefault((first[u], off), set()).add(u)
        sizes = {
            (c, off): len(us) for (c, off), us in cells.items()
        }
        want_coh = {}
        for (c, off), n in sizes.items():
            day_iso = (BASE + timedelta(days=c)).strftime("%Y-%m-%d")
            want_coh[(day_iso, off)] = (
                n,
                pytest.approx(round(n / sizes[(c, 0)], 6)),
            )
        got_coh = {
            (str(r["cohort_day"]), r["week_offset"]): (
                r["n_users"],
                r["pct_of_cohort"],
            )
            for r in qs["q_cohort_retention"](spark, d).collect()
        }
        assert got_coh == want_coh, events

        # growth accounting
        by_day: dict[int, set[int]] = {}
        for u, ds in days.items():
            for dd in ds:
                by_day.setdefault(dd, set()).add(u)
        news = {}
        for u, f in first.items():
            news[f] = news.get(f, 0) + 1
        cum = 0
        want_gr = {}
        for dd in sorted(by_day):
            cum += news.get(dd, 0)
            day_iso = (BASE + timedelta(days=dd)).strftime("%Y-%m-%d")
            want_gr[day_iso] = (len(by_day[dd]), news.get(dd, 0), cum)
        got_gr = {
            str(r["d"]): (r["dau"], r["new_users"], r["cum_users"])
            for r in qs["q_growth_accounting"](spark, d).collect()
        }
        assert got_gr == want_gr, events


# --- salted half-pair combinatorics (similarity.salted_half_pairs) ---
#
# The Spark-side losslessness of the salting cap is pinned by the
# planted-cluster equality tests (test_northstar.py) and by the oracle
# replays; what those can't explore cheaply is the COMBINATORIAL claim
# the split rests on, for arbitrary occupancy structure: with
# s = ceil(occ/cap) salt groups per cell, LEFT keeping one
# deterministic group per row and RIGHT replicating each row into all
# s groups, every half-pair (a, b) with a.id < b.id in the same cell
# matches EXACTLY ONCE — no pair lost (b's replicas cover every salt,
# including a's) and no pair duplicated (exactly one replica of b
# carries a's salt). This models the rule in pure Python and lets
# hypothesis drive occupancies across the cap boundary (occ == cap →
# s = 1 dormant; occ == cap + 1 → s = 2; mega-cells → s large),
# duplicate-heavy id spaces, and adversarial salt-hash collisions via
# a deliberately crude hash.

_salt_rows_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 5)),  # (id, cell)
    min_size=0,
    max_size=60,
    unique_by=lambda r: r[0],  # ids unique, like doc_ids
)


def _crude_hash(n: int) -> int:
    # stands in for xxhash64: deterministic, poorly mixed on purpose
    # so low moduli see collisions and imbalance
    return (n * 2654435761) & 0xFFFFFFFF


@settings(max_examples=400, deadline=None)
@given(rows=_salt_rows_strategy, cap=st.sampled_from([1, 2, 3, 5, 60]))
def test_salted_half_pairs_rule_exact_once(rows, cap):
    import math
    from collections import Counter

    occ = Counter(cell for _, cell in rows)
    s_of = {cell: math.ceil(m / cap) for cell, m in occ.items()}
    left = [(i, c, _crude_hash(i) % s_of[c]) for i, c in rows]
    right = [
        (i, c, salt) for i, c in rows for salt in range(s_of[c])
    ]
    got = Counter(
        (a_id, b_id)
        for a_id, a_cell, a_salt in left
        for b_id, b_cell, b_salt in right
        if a_cell == b_cell and a_salt == b_salt and a_id < b_id
    )
    want = Counter(
        (a_id, b_id)
        for a_id, a_cell in rows
        for b_id, b_cell in rows
        if a_cell == b_cell and a_id < b_id
    )
    # exactly once: same pair set AND every multiplicity is 1
    assert got == want, (rows, cap)
    assert all(v == 1 for v in got.values()), (rows, cap)
    # the dormancy claim: cells at or under the cap get s == 1, so the
    # salt column is constant there and the join degenerates to the
    # historical plain self-join
    assert all(
        s_of[c] == 1 for c, m in occ.items() if m <= cap
    ), (rows, cap)


# -- streamed report = batch rescan = Counter ---------------------------------
# Users 1-4 with possibly-NULL demographics; clicks also come from
# unknown ids 5-6 and include ``home``, which the report drops at ingest.
_report_users_strategy = st.lists(
    st.tuples(
        st.sampled_from([None, 25, 30]),
        st.sampled_from([None, "Gdansk", "Sopot"]),
        st.sampled_from([None, "Kobieta", "Mężczyzna"]),
    ),
    min_size=4,
    max_size=4,
)
_click_files_strategy = st.lists(
    st.lists(
        st.tuples(st.integers(1, 6), st.sampled_from(["gitlab", "kafka", "git", "home"])),
        min_size=1,
        max_size=6,
    ),
    min_size=2,
    max_size=4,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(demographics=_report_users_strategy, files=_click_files_strategy)
def test_streamed_report_matches_rescan_and_counter(
    pb_spark, tmp_path, demographics, files
):
    """A click log split across JSON files and streamed one file per
    epoch (AvailableNow) ends on the model of a batch rescan of the
    whole log, and its counts are the generator's ``Counter``."""
    import tempfile
    from collections import Counter

    from test_report_sink import _CLICKS_DDL, _USERS_DDL, _batch_model, _write_clicks

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.streaming import (
        clickstream,
        report,
    )

    spark = pb_spark
    users_rows = [(uid, *d) for uid, d in enumerate(demographics, start=1)]
    users = spark.createDataFrame(users_rows, _USERS_DDL)
    clicks_dir = tempfile.mkdtemp(dir=tmp_path)
    for i, clicks in enumerate(files):
        _write_clicks(clicks_dir, i, clicks)
    stream = (
        spark.readStream.schema(_CLICKS_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(clicks_dir)
    )
    models: list = []
    q = report.run_report_stream(
        clickstream.fan_out_messages(stream, users),
        lambda model, epoch: models.append(model),
        available_now=True,
    )
    assert q.awaitTermination(300) and q.exception() is None
    assert len(models) == len(files)
    final = models[-1]
    assert final == _batch_model(spark, clicks_dir, users)

    by_id = {row[0]: row[1:] for row in users_rows}
    kept = [
        (service, by_id[uid])
        for clicks in files
        for uid, service in clicks
        if service != "home" and uid in by_id
    ]
    assert {e["service"]: e["clicks"] for e in final["overall"]} == dict(
        Counter(service for service, _ in kept)
    )
    want = Counter()
    for service, (age, city, gender) in kept:
        for dim, value in (("age", age), ("city", city), ("gender", gender)):
            want[service, dim, None if value is None else str(value)] += 1
    got = {
        (s["service"], dim, value): count
        for s in final["services"]
        for dim, hist in s["histograms"].items()
        for value, count, _share in hist
    }
    assert got == dict(want)
