"""Measured scaling probe: how do the plan-bound operators actually
scale when the corpus grows 1× → 10×?

SCALE.md's design notes argue each plan is linear (or output-bound);
this tool MEASURES it, replacing argument with evidence ("measure,
don't guess"). It replicates the sf0.1 `documents` / `embeddings` /
`events` tables K× (id-offset copies, text/vectors unchanged) into
/tmp, runs a fixed set of PLAN-BOUND queries at each K, and prints a
markdown table of wall-times plus the fitted scaling exponent
log(t_K / t_1) / log(K) for the largest K.

Only plan-bound queries are probed: output-bound pair joins (jaccard,
containment, near-dup, editdist) are excluded BY DESIGN — replicating
the corpus K× turns every document into a K-way exact-duplicate group,
so their true-pair OUTPUT grows ~K², and measuring them on a replica
corpus would report the fixture's artifact, not the plan's shape.

Methodology (first attempt measured pure noise — negative exponents):
local-mode fixed overhead (JIT, scheduler, first-parquet-footer reads)
is ~0.3–6 s per query, which swamps data cost at small K. So the probe
(a) WARMS UP by running every probe query once at the smallest K and
discarding, (b) uses decade multipliers (default 1×/10×/100× — 500 k
docs / 200 k vectors / 10 M events at the top), and (c) takes the MIN
of 2 reps per cell (min, not mean: noise on this rig is one-sided —
stragglers, never speedups).

Usage: python tools/scale_probe.py [K ...]   (default: 1 10 100)
       python tools/scale_probe.py --pairs [K ...]
           pair-join mode (VERDICT r6 item 8): probes the Ω(output)
           dedup pair joins on SPARSE replicas (per-replica token
           suffixing keeps true output K-linear — see PAIR_PROBES);
           base corpus $SCALE_PROBE_PAIRS_BASE (default sf0.01).
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

# timed consumer shared with the bench: sum(hash(*)) computes every
# output column.  count() — the consumer through r10 — let Catalyst
# eliminate outer joins AND prune expensive projections (the cosine /
# hamming / containment verify columns), so probes timed a cheaper
# plan than any real consumer executes and the fitted exponents
# reflected the pruned plan (bench._consume docstring, SCALE.md r10).
from bench import _consume

from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
    registry,
)
from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
    evict_caches,
    get_spark,
)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK = "/tmp/aub_scale_probe"
_OFF = 100_000_000  # id offset per replica — far above any fixture id

# (table, id column(s) to offset). Text/vectors/timestamps unchanged:
# the probe measures plan shape, not data variety.
_TABLES = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}

# Plan-bound probe set (query key -> why it should be linear):
PROBES = {
    "q_dedup_exact": "hash-groupBy on md5(text)",
    "q_text_tokens": "map-only tokenize + agg",
    "q_text_quality": "map-only quality scores",
    "q_text_fingerprint": "map-only rolling hash",
    "q_sim_ann": "16-table LSH bucket probe, fixed probe set",
    "q_sim_ivf": "centroid routing + probed cells, fixed probe set",
    "q_embed_pq": "map-only PQ encode",
    "q_sample_hash": "hash-bucket filter",
    "q_time_rollup": "partial agg to O(hours×types) + calendar grid",
    "q_sessionize_batch": "per-user window, user-partitioned",
    # r6 addition, with the funnel's promotion to the bench headline:
    # per-user conditional-min windows after one shuffle on user_id
    "q_funnel_conversion": "per-user ordered-step windows, user-partitioned",
    # r7 additions — the streaming jobs run on replicas too (the id
    # offset multiplies users/events while the time range is fixed), so
    # the state-scaling claims get measured rows: tumbling state is
    # O(windows) (time-bounded — should be ~flat), session-window state
    # and output are O(users) (grows with the replica factor)
    "q_stream_tumbling": "availableNow tumbling agg; state O(windows)",
    "q_stream_session": "session windows; O(users) output via complete-mode foreachBatch parquet sink (distributed since r12; the r7-r11 memory-sink harness was driver-side)",
    # r8: the curation capstone (quality gate → exact dedup → split in
    # one plan). Exact-copy replicas are FINE here: the md5 groupBy
    # collapses every K-way copy group to one row, so output stays
    # base-sized and the exponent measures the gate+dedup+split plan.
    "q_pipeline_curate": "gate → md5-groupBy dedup → hash split, one plan",
    # r8: activity-profile similarity — id-offset replicas multiply
    # USERS while the probe set stays 20 and output stays 20×k, so
    # the exponent measures the events→profiles agg + corpus scoring
    "q_sim_timeseries": "hourly-profile pivot + broadcast-probe top-k",
    # r8 widening keys: replicas multiply EVENTS over a fixed calendar,
    # so interpolate's grid/windows stay O(hours×types) (exponent
    # measures the one agg pass, like q_time_rollup) and dpp's cost is
    # the partitioned re-write (Ω(input)) + the pruned 2-of-5 scan.
    # q_sink_zorder is NOT probed: it clusters `orders`, which the
    # id-offset replicas pass through unchanged — a flat exponent there
    # would be a measurement artifact, not a property of the plan.
    "q_time_interpolate": "one agg to O(hours×types); grid+windows calendar-bounded",
    "q_join_dpp": "partitioned sink write + dim-driven pruned scan",
    # r13: the multimodal family was the last with no measured
    # exponent. Both keys synthesize a binary payload per document and
    # run Arrow-batched mapInPandas over it — map-only by design, so
    # the exponent should read ~1.0; a super-linear reading would mean
    # the payload synthesis or batch shaping secretly aggregates.
    "q_multimodal_features": "binary payload + mapInPandas feature extract, map-only",
    "q_multimodal_framesample": "binary payload + mapInPandas frame sampling, map-only",
}

# Pair-join probe set (--pairs mode, VERDICT r6 item 8). These are
# Ω(output) plans that were excluded from the id-offset replicas above
# because exact copies make output grow ~K². The SPARSE replica below
# rewrites every whitespace token with a replica-unique suffix, so:
#   - cross-replica token sets are fully DISJOINT -> Jaccard /
#     containment / identical-token-set cross-pairs are exactly zero;
#   - cross-replica edit distance >= 2 x token count >= 2 x 10 > _ED_D
#     (suffix `_i_i` differs from `_j_j` in >=2 chars per token);
#   - within-replica pair sets are identical across replicas (the
#     rewrite is a per-replica bijection on tokens);
# so TRUE OUTPUT grows exactly K-linearly and the exponent measures
# the candidate-generation plan, not the fixture's self-similarity.
PAIR_PROBES = {
    "q_dedup_ngram_jaccard": "prefix-filter equi-join, Ω(output)",
    "q_dedup_containment": "asymmetric prefix filter, Ω(output)",
    "q_dedup_editdist": "q-gram prefix filter + banded verify",
    "q_dedup_near": "jaccard>=0.95 prefix join + per-pair MinHash band keys",
    "q_dedup_simhash": "token-set equi-join + per-pair SimHash band words",
    # r8: clusters consumes the jaccard pair set (K-linear on sparse
    # replicas) and runs contraction + star rounds on top — the
    # measured exponent is the full pairs→components pipeline, which
    # is what a dedup consumer actually pays.
    "q_dedup_clusters": "pair build + CC (contraction + star rounds)",
    # r12: the shingle-hash postings join — token-suffixed replicas
    # keep cross-replica shingles disjoint, so postings-bucket sizes
    # and true span-dup output both grow K-linearly.
    "q_dedup_substring": "shingle-hash postings join (ExactSubstr)",
}

# Embedding pair-join probe set (--embpairs, r12). The documents-based
# sparse replicas can't exercise the EMBEDDING pair plans, so these use
# SIGN-FLIP replicas: replica i multiplies every vector by a
# deterministic per-replica ±1 pattern (replica 0 = identity). A
# diagonal ±1 matrix is orthogonal, so WITHIN-replica cosines are
# preserved bit-for-bit (the true near-dup structure replicates
# K-linearly) while CROSS-replica cosines concentrate near 0 (measured
# max 0.58 on the fixture — far under the 0.9 near-dup threshold).
# NOTE this probe is built to SHOW the fixed-bucket-space property:
# _N_PLANES/_N_TABLES are code constants (16 tables × 2⁵ buckets), so
# per-bucket occupancy grows ~K and the within-bucket self-join grows
# ~K² — the same saturation class as r10's fixed simhash bands. The
# semantic-dedup key is EXCLUDED: its τ=0.35 threshold sits below the
# cross-replica cosine tail (p99.9 = 0.38), so sign-flip replicas
# would add spurious cross pairs and measure a fixture artifact.
EMB_PAIR_PROBES = {
    "q_dedup_embed_cosine": "LSH bucket self-join + Arrow verify; "
                            "adaptive code width (n_planes_for) since "
                            "r12 — was FIXED 16x32 (exponent 1.94, "
                            "1261 s at 100x; r13 geometry 1.22, 187 s; "
                            "r14 geometry — target 125, recall-derived "
                            "tables, orthogonalized planes — 1.01, "
                            "80.5 s)",
    "q_sim_ann": "bucket probe, FIXED probe set (contrast: occupancy-"
                 "linear, not occupancy-quadratic)",
}



def _base_fingerprint(base_sf: str) -> str:
    """Identity of the replica's SOURCE fixture: path + per-table
    (size, mtime_ns).  The driver regenerates fixtures at the SAME
    path each round, so a replica left in /tmp from a previous round
    could otherwise be silently reused over stale data (same class of
    bug as the q_join_dpp layout's SOURCE gate, r9)."""
    parts = [os.path.abspath(base_sf)]
    for t in sorted(
        {"region", "nation", "customer", "supplier", "part", "orders",
         "lineitem", "events", "documents", "embeddings"}
    ):
        p = os.path.join(base_sf, f"{t}.parquet")
        if os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _replica_current(out: str, fingerprint: str) -> bool:
    try:
        with open(os.path.join(out, "SOURCE")) as fh:
            return fh.read() == fingerprint
    except OSError:
        return False


def _locked_replica(out: str, fp: str, build) -> str:
    """flock-serialized check-build-publish (ADVICE r9): without the
    lock, two concurrent probes that both saw a stale replica both
    rmtree'd and rebuilt — the loser's os.rename raised because `out`
    already existed, and one racer could delete a directory the other
    had just returned.  Fixture regeneration every round makes the
    stale path the COMMON case, so this is the same pattern as
    fixtures.materialized_fixture / joins._dpp_layout: fast-path read
    without the lock, then re-check under an exclusive flock before
    building.  SOURCE is written LAST inside the staging dir, so a
    published dir is complete by construction."""
    import fcntl

    if _replica_current(out, fp):  # fast path: published + current
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)  # fresh WORK dir
    with open(out + ".lock", "w") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            if not _replica_current(out, fp):
                tmp = f"{out}.tmp.{os.getpid()}"
                shutil.rmtree(tmp, ignore_errors=True)
                os.makedirs(tmp)
                build(tmp)
                with open(os.path.join(tmp, "SOURCE"), "w") as fh:
                    fh.write(fp)
                shutil.rmtree(out, ignore_errors=True)
                os.rename(tmp, out)
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)
    return out


def build_replica(k: int) -> str:
    # Replica dirs are keyed by the BASE fixture path (hashed into the
    # dir name) and built under _locked_replica's flock: a bare
    # /tmp/...​/x{k} reused unconditionally could be a partial dir from
    # an interrupted COPY, or built from a DIFFERENT SPARK_GRAFT_SF_DIR
    # — either one silently skews the published scaling exponents.
    import hashlib

    base_tag = hashlib.md5(
        os.path.abspath(BASE_SF).encode()
    ).hexdigest()[:8]
    out = os.path.join(WORK, f"{base_tag}_x{k}")
    fp = _base_fingerprint(BASE_SF)

    def _build(tmp: str) -> None:
        con = duckdb.connect()
        for table, id_cols in _TABLES.items():
            src = os.path.join(BASE_SF, f"{table}.parquet")
            cols = [r[0] for r in con.execute(
                f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
            proj = ", ".join(
                f"{c} + i * {_OFF} AS {c}" if c in id_cols else c
                for c in cols
            )
            con.execute(
                f"COPY (SELECT {proj} FROM '{src}', range({k}) t(i)) "
                f"TO '{tmp}/{table}.parquet' (FORMAT PARQUET)"
            )
        # small dims pass through untouched (some queries join them)
        for table in ("region", "nation", "customer", "supplier",
                      "part", "orders", "lineitem"):
            src = os.path.join(BASE_SF, f"{table}.parquet")
            if os.path.exists(src):
                shutil.copyfile(src, os.path.join(tmp, f"{table}.parquet"))

    return _locked_replica(out, fp, _build)


def build_sparse_replica(base_sf: str, k: int) -> str:
    """Documents replicated K× with per-replica token suffixing (see
    PAIR_PROBES note) + doc_id offset; every other table passes through
    untouched. Same hash-keyed, flock-serialized check-build-publish
    discipline as build_replica (_locked_replica)."""
    import hashlib

    base_tag = hashlib.md5(
        os.path.abspath(base_sf).encode()
    ).hexdigest()[:8]
    out = os.path.join(WORK, f"{base_tag}_sparse_x{k}")
    fp = _base_fingerprint(base_sf)

    def _build(tmp: str) -> None:
        con = duckdb.connect()
        src = os.path.join(base_sf, "documents.parquet")
        # suffix `_i_i`: >=2 char edits per token between any two
        # replicas, disjoint token vocabularies, and n_chars updated to
        # match so any metadata-based length filter stays consistent
        # with the text
        con.execute(
            rf"""
            COPY (
              SELECT doc_id + i * {_OFF} AS doc_id,
                     regexp_replace(text, '(\S+)',
                         '\1_' || CAST(i AS VARCHAR) || '_'
                              || CAST(i AS VARCHAR), 'g') AS text,
                     lang, source,
                     CAST(len(regexp_replace(text, '(\S+)',
                         '\1_' || CAST(i AS VARCHAR) || '_'
                              || CAST(i AS VARCHAR), 'g')) AS INT)
                       AS n_chars
              FROM '{src}', range({k}) t(i)
            ) TO '{tmp}/documents.parquet' (FORMAT PARQUET)
            """
        )
        for table in ("region", "nation", "customer", "supplier",
                      "part", "orders", "lineitem", "events",
                      "embeddings"):
            s = os.path.join(base_sf, f"{table}.parquet")
            if os.path.exists(s):
                shutil.copyfile(s, os.path.join(tmp, f"{table}.parquet"))

    return _locked_replica(out, fp, _build)


def build_sign_replica(base_sf: str, k: int) -> str:
    """Embeddings replicated K× with vec_id offsets and per-replica
    sign flips (see EMB_PAIR_PROBES note); every other table passes
    through untouched. Same flock discipline as the other builders."""
    import hashlib

    base_tag = hashlib.md5(
        os.path.abspath(base_sf).encode()
    ).hexdigest()[:8]
    out = os.path.join(WORK, f"{base_tag}_sign_x{k}")
    fp = _base_fingerprint(base_sf)

    def _build(tmp: str) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        src = pq.read_table(os.path.join(base_sf, "embeddings.parquet"))
        vec_ids = src["vec_id"].to_numpy()
        labels = src["label"].to_numpy()
        emb = np.array(src["embedding"].to_pylist(), dtype=np.float32)
        dim = emb.shape[1]
        ids_out, emb_out, lab_out = [], [], []
        for i in range(k):
            if i == 0:
                signs = np.ones(dim, dtype=np.float32)
            else:
                signs = (
                    np.random.RandomState(i)
                    .choice([-1.0, 1.0], size=dim)
                    .astype(np.float32)
                )
            ids_out.append(vec_ids + i * _OFF)
            emb_out.append(emb * signs)
            lab_out.append(labels)
        table = pa.table(
            {
                "vec_id": pa.array(
                    np.concatenate(ids_out), type=pa.int64()
                ),
                "embedding": pa.array(
                    [row for block in emb_out for row in block.tolist()],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array(
                    np.concatenate(lab_out), type=pa.int32()
                ),
            }
        )
        pq.write_table(table, os.path.join(tmp, "embeddings.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents"):
            s = os.path.join(base_sf, f"{t}.parquet")
            if os.path.exists(s):
                shutil.copyfile(s, os.path.join(tmp, f"{t}.parquet"))

    return _locked_replica(out, fp, _build)


def run_cc_probe(ks: list[int]) -> None:
    """--cc mode: measure connected_components scaling DIRECTLY on
    synthetic edge sets (r8, with the per-partition contraction pass).
    No replica files — edges come from spark.range, so the probe
    isolates the CC operator from the pair-join that usually feeds it.

    Two shapes, both with K-linear edge counts:
      - blob_dense: disjoint 32-cliques (~15.5 edges/node), ids
        contiguous → the friendly case: partition-local contraction
        collapses nearly everything before the first shuffle;
      - path_scattered: 1000-node paths, edges round-robin-scattered
        across partitions → the hostile case: contraction merges
        little, the star rounds do the work across ~log rounds (this
        is the high-diameter shape a web-crawl dup chain has).
    Exponent fitted between the two largest Ks, min of 2 reps.
    """
    from pyspark.sql import functions as F

    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.functions.dedup import (
        connected_components,
    )

    base_n = int(os.environ.get("SCALE_PROBE_CC_BASE", "100000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scale_probe_cc", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def blob_edges(n: int):
        nodes = spark.range(n).select(
            (F.col("id") / 32).cast("long").alias("blk"),
            F.col("id"),
        )
        return (
            nodes.alias("a")
            .join(nodes.alias("b"), "blk")
            .where(F.col("a.id") < F.col("b.id"))
            .select(
                F.col("a.id").alias("u"), F.col("b.id").alias("v")
            )
        )

    def path_edges(n: int):
        return (
            spark.range(n - 1)
            .where((F.col("id") + 1) % 1000 != 0)
            .select(
                F.col("id").alias("u"), (F.col("id") + 1).alias("v")
            )
            .repartition(cpus)  # scatter: adjacent edges land apart
        )

    cases = {"blob_dense": blob_edges, "path_scattered": path_edges}
    times: dict[str, dict[int, float]] = {c: {} for c in cases}
    for k in sorted(ks):
        n = base_n * k
        nodes = spark.range(n).select(F.col("id").alias("doc_id"))
        for case, make in cases.items():
            edges = make(n).localCheckpoint()  # edge-gen not timed
            n_e = edges.count()
            reps = []
            for _ in range(2):
                t0 = time.time()
                _consume(connected_components(nodes, edges))
                reps.append(time.time() - t0)
            times[case][k] = round(min(reps), 2)
            print(
                f"# cc {case} {k}x: nodes={n} edges={n_e} "
                f"t={times[case][k]:.2f}s",
                file=sys.stderr,
            )
    kmax = max(ks)
    k2 = sorted(ks)[-2] if len(ks) > 1 else min(ks)
    print("\n| case | " + " | ".join(f"{k}× (s)" for k in ks)
          + " | exponent | shape |")
    print("|---|" + "---|" * (len(ks) + 2))
    notes = {
        "blob_dense": "32-cliques, contiguous — contraction collapses "
                      "before first shuffle",
        "path_scattered": "1000-node paths, scattered — star rounds "
                          "carry the work",
    }
    for case, ts in times.items():
        ta, tb = ts[k2], ts[kmax]
        exp = (math.log(tb / ta) / math.log(kmax / k2)
               if ta > 0 and kmax > k2 else float("nan"))
        row = " | ".join(f"{ts[k]:.2f}" for k in ks)
        print(f"| cc_{case} | {row} | {exp:.2f} | {notes[case]} |")


def main() -> None:
    args = sys.argv[1:]
    if "--cc" in args:
        args.remove("--cc")
        bad = [a for a in args if not a.isdigit()]
        if bad:
            sys.exit(f"--cc takes only replica multipliers, got: {bad}")
        run_cc_probe([int(a) for a in args] or [1, 10, 100])
        return
    pairs_mode = "--pairs" in args
    if pairs_mode:
        args.remove("--pairs")
    embpairs_mode = "--embpairs" in args
    if embpairs_mode:
        args.remove("--embpairs")
    ks = [int(a) for a in args] or [1, 10, 100]
    probes = (
        EMB_PAIR_PROBES if embpairs_mode
        else PAIR_PROBES if pairs_mode
        else PROBES
    )
    subset = os.environ.get("SCALE_PROBE_QUERIES")
    if subset:  # e.g. SCALE_PROBE_QUERIES=q_dedup_exact,q_text_tokens
        probes = {n: probes[n] for n in subset.split(",")}
    if pairs_mode or embpairs_mode:
        # sf0.01 base: within-replica pair output is ~92 k rows, so the
        # 100x sparse corpus (50 k docs) lands near sf0.1's single-run
        # output — tractable where an sf0.1 base would be ~100x slower
        base = os.environ.get(
            "SCALE_PROBE_PAIRS_BASE", "/root/testdata/sf0.01"
        )
        build = build_sign_replica if embpairs_mode else build_sparse_replica
        dirs = {k: build(base, k) for k in ks}
    else:
        dirs = {k: build_replica(k) for k in ks}
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # wide shuffles for the big replicas — measured 3.3× on the 1000×
    # window sort (see session.py initialPartitionNum note); AQE
    # coalesces the small-K runs back down
    os.environ.setdefault("SPARK_GRAFT_INITIAL_PARTITIONS", str(cpus * 8))
    spark = get_spark("scale_probe", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    kmin = min(ks)
    for name in probes:  # warmup: JIT + parquet footers, discarded
        _consume(qs[name](spark, dirs[kmin]))
    times: dict[str, dict[int, float]] = {}
    for name in probes:
        times[name] = {}
        for k in ks:
            reps = []
            for _ in range(2):
                # persisted subtrees and (session, corpus) memos make
                # later reps warm (post-cache plan only); cold BOTH
                # reps in BOTH modes so min-of-2 is a cold-plan number
                # — see session.evict_caches for why memo + clearCache
                # must move together.
                evict_caches(spark)
                t0 = time.time()
                _consume(qs[name](spark, dirs[k]))
                reps.append(time.time() - t0)
            times[name][k] = round(min(reps), 2)
    kmax = max(ks)
    # exponent fitted between the two LARGEST Ks — the decade where
    # data cost dominates fixed overhead
    k2 = sorted(ks)[-2] if len(ks) > 1 else kmin
    print(f"\n| query | " + " | ".join(f"{k}× (s)" for k in ks)
          + " | exponent | plan |")
    print("|---|" + "---|" * (len(ks) + 2))
    for name, ts in times.items():
        ta, tb = ts[k2], ts[kmax]
        exp = (math.log(tb / ta) / math.log(kmax / k2)
               if ta > 0 and kmax > k2 else float("nan"))
        row = " | ".join(f"{ts[k]:.2f}" for k in ks)
        print(f"| {name} | {row} | {exp:.2f} | {probes[name]} |")
    # GB-scale replicas evict the fixture page cache and leave the rig
    # under memory-compaction load for minutes — measured to inflate a
    # subsequent bench ~1.5×. Drop them unless explicitly kept.
    if os.environ.get("SCALE_PROBE_KEEP") != "1":
        for k in ks:
            if k >= 100:
                shutil.rmtree(dirs[k], ignore_errors=True)


if __name__ == "__main__":
    main()
