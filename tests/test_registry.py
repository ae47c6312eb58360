"""Registry emission-order contract.

The external correctness harness verifies queries in emission order and
caps how many it checks per run (round 1 recorded exactly the first 50).
These tests pin the contract: the priority window is exactly 50 names,
emitted first, and covers every query family — so no family can silently
fall outside the externally-verified window when queries are added.
"""

from __future__ import annotations

import os

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
    registry,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.registry import (
    _PRIORITY,
)

# Single source of truth: registry.FAMILIES (name -> startswith-prefix
# tuple).  This module used to carry its own mirror tuple, and the
# mirror drifted from intent — "q_uda" was commented "udaf/udtf" but as
# a bare prefix matched only q_udaf_grouped, making it a one-member
# family that (a) forced a window pin every round and (b) made rotation
# at the 150-key capacity infeasible (see the registry comment).
FAMILIES = registry.FAMILIES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")


def test_priority_window_is_exactly_50():
    assert len(_PRIORITY) == 50, (
        f"_PRIORITY has {len(_PRIORITY)} entries — the external harness "
        "checks exactly 50; adding a query means demoting another"
    )


def test_priority_names_emit_first_and_exist():
    names = list(registry.all_queries())
    assert names[: len(_PRIORITY)] == list(_PRIORITY)
    assert len(set(_PRIORITY)) == len(_PRIORITY)


def test_every_family_inside_checked_window():
    first50 = list(registry.all_queries())[:50]
    for fam, prefixes in FAMILIES.items():
        assert any(n.startswith(prefixes) for n in first50), (
            f"family {fam} has no representative in the externally-"
            "checked window"
        )


def test_family_sizes_support_rotation_capacity():
    """Steady-state rotation partitions the registry into
    ceil(N / 50) disjoint 50-key windows (at the 150-key capacity the
    partition is exact, with zero slack).  A family with fewer members
    than partitions cannot keep a representative in EVERY window
    without re-checking some member early, and each early re-check
    overcommits the fixed 50-checks-per-round budget — at exact
    capacity that is an immediate staleness-bound violation.  So the
    family invariant is only satisfiable if every family has at least
    one member per partition.  Guard it at registration time rather
    than discovering it as an infeasible window two rounds later."""
    names = list(registry.all_queries())
    partitions = -(-len(names) // len(_PRIORITY))  # ceil
    for fam, prefixes in FAMILIES.items():
        members = [n for n in names if n.startswith(prefixes)]
        assert len(members) >= partitions, (
            f"family {fam} has {len(members)} member(s) "
            f"{members} but rotation needs >= {partitions} (one per "
            "steady-state window partition) — add members or merge "
            "the family"
        )


def test_oracles_subset_of_queries_and_aligned():
    qs = registry.all_queries()
    os_ = registry.all_oracles()
    assert set(os_) <= set(qs)
    # oracle emission respects the same priority order
    qnames = [n for n in qs if n in os_]
    assert qnames == list(os_)


def test_survey_declares_exactly_the_served_surface():
    """SURVEY.md §2.2 is the declared contract; the registry is the
    served one. They must be the same key set (VERDICT r2 item 6)."""
    import sys

    sys.path.insert(0, TOOLS)
    import gen_coverage

    gen_coverage.assert_survey_declares_served_surface()


def test_rotation_staleness_invariant():
    """VERDICT r4 item 8: the next 50-key driver window must cover every
    never-checked key and keep worst-case staleness within the feasible
    bound (see tools/rotation_check.py docstring)."""
    import sys

    sys.path.insert(0, TOOLS)
    import rotation_check

    problems = rotation_check.check_rotation(REPO)
    assert not problems, "\n".join(problems)


def test_rotation_checker_logic_on_synthetic_history(tmp_path, monkeypatch):
    """Unit-pin the checker itself (the repo-state test above only
    proves the CURRENT window is legal, not that the checker would
    catch an illegal one): a key never driver-checked and a key past
    the staleness bound must both be flagged when outside the window;
    fixing the history clears both."""
    import json
    import sys

    sys.path.insert(0, TOOLS)
    import rotation_check

    names = [f"q_{i:03d}" for i in range(120)]  # >100 keys -> bound 3
    monkeypatch.setattr(
        rotation_check.registry,
        "all_queries",
        lambda: {n: None for n in names},
    )
    # q_118 never checked, q_119 last checked r1; everything else r4.
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"q_119": {}}))
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps({n: {} for n in names if n not in ("q_118", "q_119")})
    )
    problems = rotation_check.check_rotation(str(tmp_path))
    assert any("q_118" in p and "never" in p for p in problems), problems
    assert any("q_119" in p and "stale" in p for p in problems), problems
    assert len(problems) == 2, problems
    # same history with both keys freshly checked -> invariant holds
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps({n: {} for n in names})
    )
    assert rotation_check.check_rotation(str(tmp_path)) == []


def test_rotation_checker_grants_declared_slips_one_round(
    tmp_path, monkeypatch
):
    """r9 (ADVICE r8): an at-bound key the last window could not fit
    reads staleness bound+1 in the instant between the driver
    committing that window's results and the next session rotating
    _PRIORITY — the r8-as-judged red.  Keys pre-declared in
    registry.NEXT_WINDOW_LEADS get exactly that one round of
    allowance: bound+1 passes ONLY when declared, and bound+2 fails
    even when declared (a second missed rotation is a real
    violation)."""
    import json
    import sys

    sys.path.insert(0, TOOLS)
    import rotation_check

    names = [f"q_{i:03d}" for i in range(120)]  # >100 keys -> bound 3
    monkeypatch.setattr(
        rotation_check.registry,
        "all_queries",
        lambda: {n: None for n in names},
    )
    monkeypatch.setattr(
        rotation_check.registry, "NEXT_WINDOW_LEADS", ("q_119",)
    )
    # q_119 slipped: last r1, outside the window, results for r5 just
    # landed -> staleness after r6 = 5 - ... = bound+1 exactly
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_119": {}})
    )
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({n: {} for n in names if n != "q_119"})
    )
    assert rotation_check.check_rotation(str(tmp_path)) == []
    # same state WITHOUT the declaration -> flagged
    monkeypatch.setattr(rotation_check.registry, "NEXT_WINDOW_LEADS", ())
    problems = rotation_check.check_rotation(str(tmp_path))
    assert len(problems) == 1 and "q_119" in problems[0], problems
    # declared, but another round's results land without a rotation:
    # staleness bound+2 -> the allowance has expired, fails for real
    monkeypatch.setattr(
        rotation_check.registry, "NEXT_WINDOW_LEADS", ("q_119",)
    )
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps({n: {} for n in names if n != "q_119"})
    )
    problems = rotation_check.check_rotation(str(tmp_path))
    assert len(problems) == 1 and "expired" in problems[0], problems


def test_next_window_leads_are_genuine_slips():
    """The NEXT_WINDOW_LEADS declaration must stay honest against the
    repo's real driver history: every listed key is registered, sits
    OUTSIDE the current 50-key window (a key in-window needs no
    allowance), and reads staleness bound or bound+1 after the next
    round (bound = freshly slipped mid-round; bound+1 = the boundary
    instant the allowance exists for).  A fresh or never-checked key
    in the list is a stale declaration that could mask a later real
    violation — the rotation that clears a slip must also clear its
    declaration (the proposer prints both tuples together)."""
    import sys

    sys.path.insert(0, TOOLS)
    import rotation_check

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
    )

    last, latest_round = rotation_check.latest_checks(REPO)
    if not last:
        return  # fresh clone: nothing to validate against
    names = list(registry.all_queries())
    window = set(names[:rotation_check.WINDOW])
    bound = rotation_check.staleness_bound(len(names))
    for key in registry.NEXT_WINDOW_LEADS:
        assert key in names, f"{key}: declared lead is not registered"
        assert key not in window, (
            f"{key}: declared lead is already in the current window"
        )
        assert key in last, f"{key}: declared lead was never checked"
        staleness = latest_round + 1 - last[key]
        assert staleness in (bound, bound + 1), (
            f"{key}: staleness {staleness} after r{latest_round + 1} — "
            "not a genuine at-bound slip; clear it from "
            "NEXT_WINDOW_LEADS"
        )


def test_window_proposer_satisfies_rotation_rules():
    """tools/propose_window.py (r7) encodes the by-hand window
    composition of rounds 4-7. On synthetic history: changed keys lead,
    never-checked and at-bound keys are mandatory, fillers are
    oldest-first, and every family keeps a representative."""
    import sys

    sys.path.insert(0, TOOLS)
    from propose_window import propose

    # families: synthetic names reuse two real prefixes so the pin
    # logic has something to act on
    names = [f"q_agg_{i:03d}" for i in range(60)] + [
        f"q_win_{i:03d}" for i in range(58)
    ] + ["q_udaf_grouped", "q_sim_x"]
    # history: 40 q_agg_* checked r4 (at-bound), rest r5+, q_sim never;
    # latest round = 6 -> next is 7; bound-3 means last <= 4 is at-bound
    agg = [n for n in names if n.startswith("q_agg_")]
    last = {n: 4 for n in agg[:40]}
    last.update({n: 5 for n in agg[40:]})
    last.update({n: 5 for n in names if n.startswith("q_win_")})
    last["q_udaf_grouped"] = 6
    picked, warnings = propose(
        names, last, latest_round=6, changed=["q_agg_050"], window=50
    )
    assert not warnings, warnings
    keys = [k for k, _ in picked]
    assert len(keys) == 50 and len(set(keys)) == 50
    assert keys[0] == "q_agg_050"  # changed leads
    assert "q_sim_x" in keys  # never-checked is mandatory
    # the window must swallow every at-bound r4 key
    assert all(k in keys for k in names if last.get(k) == 4)
    # second scenario: fewer mandatory keys, fillers + family pins
    last = {n: 4 for n in list(names)[:30] if n.startswith("q_agg_")}
    last.update(
        {n: 5 for n in names if n.startswith("q_agg_") and n not in last}
    )
    last.update({n: 6 for n in names if n.startswith("q_win_")})
    last["q_udaf_grouped"] = 6
    picked, warnings = propose(
        names, last, latest_round=6, changed=[], window=50
    )
    assert not warnings, warnings
    keys = [k for k, _ in picked]
    reasons = dict(picked)
    assert len(keys) == 50
    assert "q_sim_x" in keys
    assert all(k in keys for k, r in last.items() if r == 4)
    # fillers must be the OLDEST remaining (r5 before r6)
    filler_rounds = [
        last[k] for k, r in picked if r.startswith("backlog thinning")
    ]
    assert filler_rounds and max(filler_rounds) <= 6
    # family pin: q_udaf_grouped is its family's only member and must
    # be pinned in even though it was checked most recently
    assert "q_udaf_grouped" in keys, reasons
    # infeasibility is reported, not silently truncated
    too_many = {n: 4 for n in names}
    _, warnings = propose(
        names, too_many, latest_round=6, changed=[], window=50
    )
    assert any("exceed" in w for w in warnings)


def test_window_proposer_slips_at_bound_overflow_family_safely():
    """The r8 capacity lesson (q_agg_collect/q_agg_cube), mechanical:
    when mandatory keys overflow the window, AT-bound keys (staleness
    exactly 3 after the next round — legal) slip to the round after
    and are reported as hard leads there.  Never slipped: --changed
    keys, never-checked keys, and a family's sole in-window rep."""
    import sys

    sys.path.insert(0, TOOLS)
    from propose_window import propose

    names = [f"q_agg_{i:03d}" for i in range(8)] + ["q_win_solo", "q_new"]
    # next round = 7; last r4 == staleness exactly 3 -> AT the bound
    last = {n: 4 for n in names if n != "q_new"}
    picked, warnings = propose(
        names, last, latest_round=6, changed=["q_agg_000"], window=8
    )
    keys = [k for k, _ in picked]
    assert len(keys) == 8
    assert not any("exceed" in w for w in warnings), warnings
    notes = [w for w in warnings if "slipped" in w]
    assert len(notes) == 1, warnings
    # 9 at-bound + 1 never-checked = 10 mandatory for 8 slots -> 2
    # slips; changed, never-checked and the sole q_win_ rep survive
    assert "q_agg_000" in keys and "q_new" in keys and "q_win_solo" in keys
    slipped = [k for k in names if k not in keys]
    assert len(slipped) == 2
    assert all(k.startswith("q_agg_") for k in slipped)
    assert all(k in notes[0] for k in slipped)
    # a slip load larger than one whole window is NOT slippable — it
    # could never be absorbed next round; report capacity violation
    wide = {f"q_agg_{i:03d}": 4 for i in range(30)}
    _, warnings = propose(
        sorted(wide), wide, latest_round=6, changed=[], window=8
    )
    assert any("exceed" in w for w in warnings), warnings


def test_rotation_remains_feasible_three_rounds_ahead():
    """The registry saturates rotation capacity exactly (150 keys =
    3 disjoint 50-key windows, zero slack), so a composition mistake
    shows up not in THIS window but one or two rounds later, when no
    legal window exists any more.  Project forward from the current
    repo state: the next driver round checks the pasted _PRIORITY
    window verbatim; each subsequent window comes from the proposer
    (staged keys register in the first projected round).  Three
    projected rounds must compose without a capacity warning, cover
    every family, and leave no key past the staleness bound.  This is
    the guard that caught the one-member 'q_uda' family: with it, the
    projection had no legal window two rounds out."""
    import sys

    sys.path.insert(0, TOOLS)
    import gen_coverage
    import rotation_check
    from propose_window import propose

    last, latest = rotation_check.latest_checks(REPO)
    if not last:
        return  # fresh clone — no driver history to project from
    sim = dict(last)
    names = sorted(set(registry.all_queries()) | gen_coverage._STAGED)
    # Two repo states exist (the results-landing boundary, ADVICE r8):
    # mid-round, the pasted _PRIORITY window is what the driver checks
    # at round end — seed it as checked next round and project the
    # three rounds after.  At the boundary instant (the driver just
    # committed results for EXACTLY the pasted window, rotation not
    # yet done), re-seeding that same window as "checked again" would
    # simulate a double-check that starves the declared slips — there
    # the next session's rotation is proposer-composed like every
    # later round, so project all three rounds from the proposer.
    window = list(registry.all_queries())[: rotation_check.WINDOW]
    consumed = all(sim.get(k) == latest for k in window)
    if consumed:
        steps = (1, 2, 3)
    else:
        for k in _PRIORITY:  # the driver checks the pasted window next
            sim[k] = latest + 1
        steps = (2, 3, 4)
    for step in steps:
        picked, warnings = propose(
            names, sim, latest_round=latest + step - 1, changed=[]
        )
        assert not any("exceed" in w for w in warnings), (step, warnings)
        assert not any("unrepresented" in w for w in warnings), (
            step,
            warnings,
        )
        keys = [k for k, _ in picked]
        assert len(keys) <= 50
        for fam, prefixes in FAMILIES.items():
            assert any(k.startswith(prefixes) for k in keys), (step, fam)
        for k in keys:
            sim[k] = latest + step
    horizon = latest + steps[-1]
    stale = {k: horizon - r for k, r in sim.items() if horizon - r > 3}
    assert not stale, stale


def test_window_proposer_pin_never_evicts_sole_family_rep():
    """ADVICE r7: composing family B's pin must not cost family A its
    SOLE in-window representative.  Originally enforced by a guarded
    filler-eviction pass; now structural — pins are taken BEFORE
    fillers, so a pin can never displace anything (ADVICE r8 flagged
    the eviction order-dependence; the reorder removes the eviction
    entirely).  Scenario: q_sim_x is the youngest key AND its family's
    only member; both it and q_udaf_grouped must be in-window, with
    the q_agg fillers absorbing the squeeze."""
    import sys

    sys.path.insert(0, TOOLS)
    from propose_window import propose

    names = [f"q_agg_{i:03d}" for i in range(50)] + [
        "q_sim_x",
        "q_udaf_grouped",
    ]
    last = {n: 5 for n in names if n.startswith("q_agg_")}
    last["q_sim_x"] = 6
    last["q_udaf_grouped"] = 6
    picked, warnings = propose(
        names, last, latest_round=6, changed=[], window=51
    )
    assert not warnings, warnings
    keys = [k for k, _ in picked]
    # both single-member families survive; an agg filler was evicted
    assert "q_sim_x" in keys
    assert "q_udaf_grouped" in keys
    assert sum(1 for k in keys if k.startswith("q_agg_")) == 49


def test_sparse_replica_keeps_pair_output_k_linear(tmp_path):
    """tools/scale_probe.py --pairs rests on one property: the sparse
    replica's per-replica token rewrite keeps TRUE pair output
    K-linear. Pin its two mechanisms with DuckDB only (no Spark): the
    token vocabularies of different replicas are fully disjoint (kills
    every set-similarity cross-pair), and every token differs by >= 2
    characters across replicas (cross-replica edit distance >= 2 x
    tokens > the q_dedup_editdist band)."""
    import duckdb
    import sys

    sys.path.insert(0, TOOLS)
    import scale_probe

    # redirect the work dir so the test never touches the real cache
    old_work = scale_probe.WORK
    scale_probe.WORK = str(tmp_path)
    try:
        d = scale_probe.build_sparse_replica("/root/testdata/sf0.001", 3)
    finally:
        scale_probe.WORK = old_work
    con = duckdb.connect()
    n_base = con.execute(
        "SELECT count(*) FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    n_rep, n_ids = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM '{d}/documents.parquet'"
    ).fetchone()
    assert n_rep == 3 * n_base == n_ids
    # replica id recovered from the doc_id offset; token sets disjoint
    overlap = con.execute(
        f"""
        WITH tok AS (
          SELECT doc_id // {scale_probe._OFF} AS rep,
                 unnest(string_split(text, ' ')) AS w
          FROM '{d}/documents.parquet'
        )
        SELECT count(*) FROM (
          SELECT w FROM tok WHERE w <> ''
          GROUP BY w HAVING count(DISTINCT rep) > 1
        )
        """
    ).fetchone()[0]
    assert overlap == 0, f"{overlap} tokens shared across replicas"
    # n_chars metadata tracks the rewritten text
    bad_len = con.execute(
        f"SELECT count(*) FROM '{d}/documents.parquet' "
        "WHERE n_chars <> len(text)"
    ).fetchone()[0]
    assert bad_len == 0


def test_bench_emission_is_compact_contract_line_last(capsys):
    """BENCH_r06.json recorded `parsed: null` because verbose per-rep
    blobs pushed the headline metric past the driver's byte-limited
    tail capture. Pin the fix: bench.emit prints detail to stderr and
    the compact contract object as stdout's LAST line — parseable,
    with the required fields, and small enough to always fit a tail
    window."""
    import json
    import sys

    sys.path.insert(0, REPO)
    from bench import emit

    compact = {
        "metric": "headline_total_sec",
        "value": 1.5,
        "unit": "sec",
        "queries": {f"q_{i}": 0.1 for i in range(15)},
        "extended": {f"e_{i}": 1.0 for i in range(12)},
        "extended_total_sec": 12.0,
        "sf": 0.1,
        "load_avg_start": 0.42,  # rig-state field added r8
        # settle-gate / retry fields (v2 r14, v4 r16) at their maximal
        # (retry-ran) size, so the 4096-byte bound is checked against
        # the LARGEST line bench.main can emit
        "warmup_total_sec": 19.5,
        "warmup_over_median": 1.65,
        "headline_retry": {
            "first_total_sec": 15.47,
            "retry_total_sec": 12.1,
            "agreement": 1.28,
        },
        "dirty": False,
        "warmup_ext_total_sec": 45.9,
        "warmup_ext_over_total": 1.34,
        # host canary fields (r16): scalar CPU + memory bandwidth
        "host_canary_start_sec": 2.63,
        "host_canary_end_sec": 1.17,
        "host_canary_bw_gbps_start": 7.36,
        "host_canary_bw_gbps_end": 7.62,
    }
    emit(compact, detail={"detail": "per_rep", "reps": [1.5] * 3})
    cap = capsys.readouterr()
    last = cap.out.strip().splitlines()[-1]
    parsed = json.loads(last)
    assert parsed["metric"] == "headline_total_sec"
    assert {"value", "unit", "queries", "sf"} <= set(parsed)
    assert len(last) < 4096, "contract line too large for a tail window"
    assert "per_rep" in cap.err and "per_rep" not in cap.out


def _race_locked_replica(work, builds, results):
    """Child for test_locked_replica_serializes_stale_rebuilds: both
    racers see the SAME stale replica, then contend on the flock with
    a slow builder so overlap is guaranteed if the lock fails."""
    import os
    import sys
    import time

    sys.path.insert(0, TOOLS)
    import scale_probe

    out = os.path.join(work, "probe_x3")

    def build(tmp):
        with builds.get_lock():
            builds.value += 1
        time.sleep(0.5)  # widen the race window
        with open(os.path.join(tmp, "data.txt"), "w") as f:
            f.write("payload")

    results.put(scale_probe._locked_replica(out, "fp-v2", build))


def test_locked_replica_serializes_stale_rebuilds(tmp_path):
    """ADVICE r9: scale_probe's replica builders rmtree'd + rebuilt a
    STALE published replica without a lock — two concurrent probes
    both saw the stale dir, both built, the loser's os.rename raised
    OSError and one racer could delete the directory the other had
    just returned.  Pin the fixed _locked_replica: with a stale
    replica pre-published, two real processes rebuild EXACTLY once,
    both return the same live dir, and the payload is intact.
    Processes, not threads — flock is per-open-file-description."""
    import multiprocessing as mp
    import os

    # pre-publish a STALE replica (SOURCE mismatches the new fp):
    # this is the common per-round case the ADVICE race lives in
    stale = tmp_path / "probe_x3"
    os.makedirs(stale)
    (stale / "SOURCE").write_text("fp-v1")
    (stale / "data.txt").write_text("stale")

    builds = mp.Value("i", 0)
    results = mp.Queue()
    procs = [
        mp.Process(
            target=_race_locked_replica,
            args=(str(tmp_path), builds, results),
        )
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
    outs = [results.get(timeout=10) for _ in range(2)]
    assert len(set(outs)) == 1, outs
    assert builds.value == 1, (
        f"{builds.value} builds — stale racers did not serialize"
    )
    with open(os.path.join(outs[0], "data.txt")) as f:
        assert f.read() == "payload"
    with open(os.path.join(outs[0], "SOURCE")) as f:
        assert f.read() == "fp-v2"


def _regen_matches_head(tool: str, doc: str) -> None:
    """Run a doc generator in a subprocess and assert the tracked file is
    byte-identical afterwards — the drift guard r10 asked for (r11's
    final commit moved two joins.py functions 3 lines after the doc
    refresh, and COVERAGE.md cited stale lines for a whole round).
    Side-effect-free: the pre-test bytes are restored on mismatch so a
    red test never leaves the working tree dirty."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, doc)
    with open(path, "rb") as fh:
        before = fh.read()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1")
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", tool)],
            cwd=repo,
            env=env,
            capture_output=True,
            text=True,
            timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        with open(path, "rb") as fh:
            after = fh.read()
    finally:
        with open(path, "wb") as fh:
            fh.write(before)
    assert after == before, (
        f"{doc} is stale — `python tools/{tool}` produces different "
        "content than HEAD; regenerate and commit it with the change "
        "that moved it"
    )


def test_coverage_md_is_fresh():
    _regen_matches_head("gen_coverage.py", "COVERAGE.md")


def test_plans_md_is_fresh():
    """Heavier (builds all 29 headline/extended plans at sf0.1 in a
    fresh session, ~2-3 min) but byte-deterministic: gen_plans runs the
    same query sequence in a fresh session, so expression ids allocate
    identically (verified by back-to-back runs before this test
    landed)."""
    _regen_matches_head("gen_plans.py", "PLANS.md")
