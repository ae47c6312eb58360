"""Similarity search over the `embeddings` table (array<float> vectors).

Two tiers (SURVEY §2.2 north-star):

- `q_sim_topk_bruteforce` — exact cosine top-k, probe-set × corpus. The
  dot product runs JVM-side via `zip_with`+`aggregate` in double
  precision (bitwise-reproducible against the DuckDB oracle computing
  the same expression).
- `q_sim_ann` — LSH-bucketed approximate NN: random-hyperplane SimHash
  bits built from deterministic per-dimension coefficients; candidates
  meet only inside a bucket (equi join), then exact cosine re-ranks.

Scale design: brute force is O(probes × corpus) — acceptable only for
small probe sets (broadcast the probes, never shuffle the corpus). The
ANN path is the 100 TB default: bucket cardinality tunes the
recall/cost trade-off, corpus passes once to build buckets, probes hash
to the same buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from ..catalog import load_table, table_rows
from ..registry import query

N_PROBES = 5  # probe set = vec_id < N_PROBES
TOP_K = 10


def _dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array<double> columns (JVM)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@F.pandas_udf(DoubleType())  # typed object, not a DDL string (see
# _lsh_bucket_ids note — strings parse against the active session)
def cosine_arrow(ea, eb):  # pd.Series[list[float]] x2 -> pd.Series[float]
    """Vectorized cosine for PAIR-VERIFICATION stages: each Arrow batch
    stacks the two embedding columns into (batch × dim) matrices and
    does three numpy row-reductions — the same one-matmul-per-batch
    trick as `_lsh_bucket_ids`, and for the same reason: the
    pure-expression `cosine` runs 3 higher-order `aggregate` lambdas
    per row, which Catalyst interprets rather than codegens (measured
    r10 on q_dedup_embed_cosine's 815k sf0.1 candidates: 3.6 s steady /
    9.6 s first-run-with-codegen vs 2.7 / 3.4 s here, 8 cpus).

    Float contract: numpy's pairwise summation orders the 64-term dot
    differently from the sequential `aggregate` fold AND from DuckDB's
    `list_dot_product` — all three already differ, and the oracle
    comparison is at ROUND(·, 6) where the fixture-measured margins
    dominate reordering error by ≥9 orders (q_sim_ann's float-margin
    analysis; re-measured per-fixture in tests/test_northstar.py).
    Equality with the expression path at round-6 over the full sf0.1
    candidate set was verified when this landed (0 disagreements).

    Use where the per-pair verify volume dominates (embed near-dup);
    the broadcast-probe top-k keys keep the JVM expression — their
    probe × corpus volume is small and JVM-side avoids shipping the
    corpus embeddings through Python workers.
    """
    import numpy as np
    import pandas as pd

    A = np.stack(ea.values)
    B = np.stack(eb.values)
    return pd.Series(
        (A * B).sum(1) / (np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1)))
    )


@query(
    "q_sim_topk_bruteforce",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    probes AS (SELECT vec_id AS probe_id, emb AS probe_emb FROM v
               WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT p.probe_id, c.vec_id AS cand_id,
             list_dot_product(p.probe_emb, c.emb) /
               (sqrt(list_dot_product(p.probe_emb, p.probe_emb)) *
                sqrt(list_dot_product(c.emb, c.emb))) AS sim
      FROM probes p CROSS JOIN v c
      WHERE c.vec_id <> p.probe_id
    )
    SELECT probe_id, cand_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT probe_id, cand_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: small probe set against the full corpus.

    The probe side is broadcast (crossJoin with a tiny broadcast side →
    BroadcastNestedLoopJoin): the corpus is scanned once per task with
    zero join shuffle. Top-k is TWO-PHASE: phase 1 windows over
    (probe, physical-partition-id) — same shuffle volume as a plain
    per-probe window but spread over corpus-partitions × probes
    reducers instead of ONE reducer per probe, which is the skew wall
    at 100 TB; phase 2 re-windows only the O(partitions × k) survivors
    per probe. Deterministic tie-break on cand_id.
    """
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    probes = v.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb")
    )
    scored = (
        v.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("cand_id"),
            cosine(F.col("probe_emb"), F.col("emb")).alias("sim"),
        )
    )
    # phase 1: partial top-k inside each physical partition (map-side)
    w_part = W.partitionBy("probe_id", "pid").orderBy(
        F.col("sim").desc(), F.col("cand_id")
    )
    survivors = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("prnk", F.row_number().over(w_part))
        .filter(F.col("prnk") <= TOP_K)
    )
    # phase 2: global top-k over the tiny survivor set
    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "probe_id",
            "cand_id",
            F.round("sim", 6).alias("cosine_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


@query(
    "q_embed_normquant",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    n AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM v
    )
    SELECT vec_id,
           ROUND(nrm, 6) AS l2_norm,
           array_to_string(list_transform(emb,
             x -> CAST(CAST(floor(x / nrm * 127 + 0.5) AS INT) AS VARCHAR)
           ), ',') AS quant_i8
    FROM n
    """,
)
def q_embed_normquant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table maintenance: L2 norm + int8 quantization of every
    vector — the preprocessing that makes ANN affordable at corpus scale
    (unit-normalizing turns cosine into dot product; int8 cuts vector
    memory 4× vs float32, 8× vs float64, so ~4× more corpus fits in the
    same executor/ANN-index memory). Map-only JVM higher-order
    expressions — no shuffle, no Python.

    Quantization rounds via ``floor(x·127 + 0.5)`` (round-half-up) in
    BOTH engines rather than ``round()`` — Spark's double round is
    HALF_UP while DuckDB's rounds half away from zero, which differs for
    negative components. The quantized vector is projected as a joined
    string because the driver canonicalizer cannot hash array columns.
    """
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    nrm = F.sqrt(_dot(F.col("emb"), F.col("emb")))
    quant = F.transform(
        F.col("emb"),
        lambda x: (F.floor(x / nrm * 127 + F.lit(0.5)))
        .cast("int")
        .cast("string"),
    )
    return v.select(
        "vec_id",
        F.round(nrm, 6).alias("l2_norm"),
        F.array_join(quant, ",").alias("quant_i8"),
    )


# --- ANN: deterministic random-hyperplane LSH -------------------------------

# Tuned for the fixture distribution (near-random 64-d vectors, top-10
# cosine ≈ 0.3 → per-bit collision prob ≈ 0.60): 5-bit codes × 16 tables
# gives measured recall ≈ 0.78 at ~43% candidate rate. Corpora with real
# (clustered) embeddings tolerate far more bits — at scale the code
# width RISES with corpus size (n_planes_for below) so per-bucket
# occupancy stays bounded; recall degrades gracefully per the
# (1-θ/π)^bits collision curve.
_N_PLANES = 5  # floor — and the exact width at every fixture scale
_N_TABLES = 16  # floor table count — and the exact count through width 9
# (n_tables_for returns 17 at width 10, 20 at width 11 — fixture scales
# all sit at the width-5 floor, where 16 is exact)
_MAX_PLANES = 16  # widest code the bucket UDF precomputes
_MAX_TABLES = 45  # widest table fan-out the bucket UDF precomputes
# (= n_tables_for(_MAX_PLANES) — the maximum any width can demand;
# asserted in tests/test_northstar.py)
_TARGET_BUCKET = 125  # per-table occupancy ceiling before widening
# Candidate-recall design target for the dedup self-join at the
# 0.9-cosine class floor (per-bit collision p = 1 − arccos(0.9)/π ≈
# 0.856): the table count below is derived FROM this, so recall is the
# invariant and candidate volume the consequence — not vice versa.
_RECALL_TARGET = 0.98


def n_planes_for(n: int) -> int:
    """Bucket-code width for an n-vector corpus: smallest width whose
    2^planes buckets per table keep expected occupancy ≤ _TARGET_BUCKET,
    floored at _N_PLANES and capped at _MAX_PLANES.

    IDENTICAL to the historical constant 5 for every n ≤ 4000 — which
    covers sf0.001/sf0.01/sf0.1 (500/500/2000 vectors), so
    driver-scale bucket ids are bit-for-bit the ones the static DuckDB
    oracles replay; since the r14 target halving the width engages
    above 4000 (the 10× probe replica at 5000 vectors gets 6 planes,
    the 100× replica at 50k gets 9 — pinned in
    tests/test_northstar.py::test_lsh_geometry_tables_pin_the_r14_decision,
    so r12/r13 probe baselines quoted below are NOT width-comparable
    to r14 probe runs). History this rule encodes: the r12
    sign-replica probe measured the FIXED 16×2⁵ space going quadratic
    on the bucketed self-join (3.81 → 14.32 → 1261 s at 1/10/100×,
    exponent 1.94 — the r10 simhash saturation class). The r13
    candidate-volume audit (at target 250: 1352 → 1866 → 2715
    cand/vec across 10×/100×/1000×, exponent ≈1.15) decomposed the
    residual over-1 as bucket-occupancy SKEW (E[occ²]/E[occ]² ≈ 1.36
    at 1000×) plus ceil-width quantization
    (SCALE.md r13) — and r14 traced the
    skew itself to plane-plane correlation and removed it (see
    _coeff_matrix; audit now reads a constant ≈1.08 through 5M
    vectors). Practical
    consequence: a corpus whose embeddings cluster hard raises the
    skew factor — reach for more tables at a narrower target (or
    per-bucket caps) rather than one wider code. Recall
    for 0.9-cosine near-dups at the adapted width is gated (not just
    computed) on planted threshold-class pairs in tests/test_northstar.py.

    r14 geometry decision (VERDICT r13 item 1, from the r13 measured
    width/recall/candidate table): _TARGET_BUCKET dropped 250 → 125.
    The table showed each extra plane halves candidate volume for
    ~0.2–0.4 recall points (width 9: 981 cand/vec at 0.994; width 10:
    518 at 0.990), and the audit attributed the exponent residual to
    occupancy SKEW — Σocc² scales with target², so halving the target
    roughly quarters the skew term's absolute contribution per table.
    Every fixture scale (≤ 2000 vectors) still floors at width 5, so
    the static DuckDB oracles replay bit-for-bit; recall at wide
    widths is no longer left to the (1−(1−pʷ)ᵀ) decay — `n_tables_for`
    grows the table count so the dedup candidate-recall target holds,
    and `probe_radius_for` deepens ANN multi-probe with width.

    Honest boundary of this geometry (documented, not hidden): the
    width caps at _MAX_PLANES, so past n ≈ _TARGET_BUCKET·2^16 ≈ 8.2M
    vectors per partition, occupancy grows linearly with n again and
    the self-join trends quadratic. Wider codes cannot fix that within
    sign-bit LSH — per-table recall p^w decays geometrically, so the
    table count holding the recall target grows ~(1/p)^w ≈ 1.17^w and
    the candidate budget T·target/2 with it. The scale path past ~10⁷
    vectors per geometry is the IVF route (q_sim_ivf /
    q_dedup_semantic): a coarse-centroid partition whose cell count —
    unlike a bit width — scales smoothly with n at a constant
    assignment cost, with recall governed by nprobe rather than a
    collision exponent. Since r15 this routing is CODE, not prose:
    `q_sim_ann` consults the footer count and delegates to the IVF
    path past `ANN_IVF_CROSSOVER` = target·2^_MAX_PLANES — exactly the
    n where the occupancy invariant this rule exists for first breaks
    (VERDICT r14 item 4; see `ann_route`).

    Fixed-geometry control measurements (the quadratic this rule
    removes) pass an explicit width to `bucketed_all_tables` instead
    of overriding this function."""
    import math

    need = math.ceil(math.log2(max(1.0, n / _TARGET_BUCKET)))
    return min(_MAX_PLANES, max(_N_PLANES, need))


def n_tables_for(n_planes: int) -> int:
    """Table count holding dedup candidate recall at the 0.9-cosine
    class floor ≥ _RECALL_TARGET for an `n_planes`-bit code:
    T = ⌈ln(1−target)/ln(1−p^w)⌉ with p = 1−arccos(0.9)/π ≈ 0.856,
    floored at the historical _N_TABLES.

    At a FIXED 16 tables, banding recall decays with the adaptive
    width — 0.996 at w=8 but 0.96 at w=11 and 0.75 at w=16 — i.e. the
    r12/r13 fixes traded the occupancy quadratic for a silent recall
    slide (VERDICT r13 what's-wrong #2 is the ANN face of the same
    decay). This rule makes recall the invariant: the floor holds T at
    exactly 16 through width 9 (every fixture scale AND the 100×
    sign-replica's width — plans and oracles unchanged), then the
    formula takes over: 17/20/24/28/33/39/45 at widths 10–16. The
    derived candidate budget T·_TARGET_BUCKET/2 per vector stays
    within 1000–2812 across ALL widths — versus 2000 flat with recall
    collapsing to 0.75, under the old geometry. Cost of
    more tables is map-side only (one wider Arrow matmul per batch);
    candidate volume is budget-bounded by construction.
    """
    import math

    p = 1 - math.acos(0.9) / math.pi
    need = math.ceil(
        math.log(1 - _RECALL_TARGET) / math.log(1 - p**n_planes)
    )
    return min(_MAX_TABLES, max(_N_TABLES, need))


def probe_radius_for(n_planes: int) -> int:
    """ANN multi-probe hamming radius for an `n_planes`-bit code —
    probe-sequence depth that SCALES with width (VERDICT r13
    what's-wrong #2; Lv et al., VLDB'07).

    ANN probing hunts ~0.5-cosine neighbors (per-bit collision
    p = 1−arccos(0.5)/π = 2/3), so per-table hit probability under a
    radius-r probe is Σ_{i≤r} C(w,i)·p^(w−i)·(1−p)^i. Radius 1 holds
    the 16-table union above the 0.6 recall floor only through width
    11 (0.97 at w=8 → 0.71 at w=11 → 0.59 at w=12); from width 12 the
    2-bit flips keep union recall ≥ 0.93 at every width through 16
    with the matching `n_tables_for` count (w=12/T=24: 0.99; w=16/
    T=45: 0.94); in the radius-1 middle (widths 9–11) it bottoms at
    0.79 — above the 0.6 floor (arithmetic in the r14 SCALE.md entry,
    gated at forced
    width 13 in tests/test_northstar.py). Radius 0 at the floor width
    keeps fixture plans and the static oracle bit-identical."""
    if n_planes <= _N_PLANES:
        return 0
    return 1 if n_planes <= 11 else 2


def _plane_coeff(table: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-gaussian coefficient for (table, plane, dim).

    A fixed integer mix (splitmix-style) mapped to [-1, 1) — no RNG
    state, reproducible everywhere. Quality is adequate for hyperplane
    LSH (only the sign pattern matters).
    """
    x = (table * 1_000_003 + plane * 7919 + dim * 104_729 + 0x9E3779B9) & 0xFFFFFFFF
    x = (x ^ (x >> 16)) * 0x85EBCA6B & 0xFFFFFFFF
    x = (x ^ (x >> 13)) * 0xC2B2AE35 & 0xFFFFFFFF
    x ^= x >> 16
    return (x / 2**31) - 1.0


def simhash_bucket(emb: Column, dim: int, table: int) -> Column:
    """Bucket id = sign bits of _N_PLANES fixed hyperplane projections.

    Each projection is a JVM-side dot product against a literal
    coefficient array — one `aggregate` expression per plane, not dim
    scalar additions (keeps the codegen'd expression tree small).
    """
    bucket = F.lit(0)
    for plane in range(_N_PLANES):
        coeffs = F.array(
            *[F.lit(_plane_coeff(table, plane, d)) for d in range(dim)]
        )
        proj = _dot(emb, coeffs)
        bucket = bucket * 2 + F.when(proj >= 0, 1).otherwise(0)
    return bucket


_COEFF_CACHE: dict[int, "object"] = {}


def _coeff_matrix(dim: int):
    """(dim × _MAX_TABLES·_MAX_PLANES) hyperplane matrix, column
    (t·P + p) = plane p of table t — identical coefficients to
    `simhash_bucket` for the planes both compute (p < _N_PLANES).

    Planes ≥ _N_PLANES are Gram-Schmidt ORTHOGONALIZED within their
    table against every earlier plane, with the projection dot
    products computed as ORDER-FIXED sequential sums (a running
    ``np.add.accumulate`` down the dim axis, every table at once)
    rather than numpy/BLAS reductions — BLAS reduction order varies by
    build (MKL vs OpenBLAS, SIMD width), and the pre-r14 matrix was
    build-independent by construction (pure scalar _plane_coeff), an
    invariant the self-join's two sides rely on for identical bucket
    ids. The integer mix and every float op match the scalar
    `_plane_coeff` and a sequential Python-float Gram-Schmidt bit for
    bit (tests/test_fixed_cost.py); vectorized, the build takes
    milliseconds, so the per-task rebuild (the module is pickled by
    value, so this cache reaches each task empty) is cheap. Why
    orthogonalize at all: the
    r13 candidate audit measured bucket-occupancy skew
    E[occ²]/E[occ]² ≈ 1.36–1.48 drifting UP with code width, and r14
    traced it to a closed form — two random hyperplanes at
    correlation ρ make their sign-agreement events dependent, giving
    skew ≈ exp(C(w,2)·4/(π²·dim)) for raw gaussian-ish planes (1.52
    predicted at w=12, d=64; 1.482 measured — it was never data
    clustering). Orthogonalizing the wide planes removes the
    wide-wide pair terms EXACTLY and reduces the raw-wide terms to
    second order (not to zero: each wide plane is projected against
    the raw floor planes first, but later wide-plane subtractions
    reintroduce small raw components — measured residual raw-wide
    correlations reach ~0.11, ADVICE r14): measured skew at w=12 drops
    1.482 → 1.089 and candidates/vector land within ~5% of the
    uniform budget (SCALE.md r14), while the per-bit collision law —
    and therefore every recall formula and gate — is unchanged
    (orthogonalized directions are still uniformly random
    hyperplanes; this is Super-Bit LSH, Ji et al., NeurIPS'12). The
    first _N_PLANES planes stay RAW so every fixture-scale bucket id,
    plan, and static DuckDB oracle replays bit-for-bit; the residual
    skew from their C(5,2) = 10 unorthogonalized pairs is ≈ e^0.063
    ≈ 1.07 at any width."""
    import numpy as np

    if dim not in _COEFF_CACHE:
        # _plane_coeff for every (d, t, p) at once: x < 2³² at every
        # step, so each product fits uint64 and the masks are exact
        u64 = np.uint64
        low32 = u64(0xFFFFFFFF)
        x = (
            np.arange(_MAX_TABLES, dtype=u64)[None, :, None] * u64(1_000_003)
            + np.arange(_MAX_PLANES, dtype=u64)[None, None, :] * u64(7919)
            + np.arange(dim, dtype=u64)[:, None, None] * u64(104_729)
            + u64(0x9E3779B9)
        ) & low32
        x = ((x ^ (x >> u64(16))) * u64(0x85EBCA6B)) & low32
        x = ((x ^ (x >> u64(13))) * u64(0xC2B2AE35)) & low32
        x ^= x >> u64(16)
        m = x.astype(np.float64) / 2**31 - 1.0  # (dim, table, plane)
        zero = np.zeros((1, _MAX_TABLES))

        def dot(a, b):  # per-table sums, sequential over dim from 0.0
            return np.add.accumulate(np.vstack([zero, a * b]), axis=0)[-1]

        for p in range(_N_PLANES, min(_MAX_PLANES, dim)):
            v = m[:, :, p].copy()
            for q in range(p):
                u = m[:, :, q]
                v -= (dot(v, u) / dot(u, u)) * u
            keep = dot(v, v) > 1e-18  # never expected to fail
            m[:, keep, p] = v[:, keep]
        m = m.reshape(dim, _MAX_TABLES * _MAX_PLANES)
        _COEFF_CACHE[dim] = m
    return _COEFF_CACHE[dim]


@F.pandas_udf(ArrayType(IntegerType()))  # typed object, not a DDL string:
# string return types parse against the ACTIVE session, which need not
# exist when this module is imported (e.g. pytest collection)
def _lsh_bucket_ids(emb):  # pd.Series[list[float]] -> pd.Series[list[int]]
    """All _MAX_TABLES WIDE (_MAX_PLANES-bit) bucket ids per vector as
    ONE numpy matmul.

    The pure-expression twin (`simhash_bucket`) runs higher-order
    `aggregate` lambdas per row, which Catalyst interprets rather than
    codegens — an order of magnitude slower. Here each Arrow batch does
    a single (batch × dim) @ (dim × 720) product, takes signs, and
    packs _MAX_PLANES bits per table (plane 0 = MSB, matching
    `bucket*2 + bit`). The UDF always emits the WIDEST geometry — all
    _MAX_TABLES tables at _MAX_PLANES bits; consumers slice down to
    their table count and right-shift down to their width (a p-plane
    bucket id is the top p bits — prefix property of sign-bit codes;
    table t's code is independent of how many later tables exist).
    That keeps this UDF a single module-level object so CacheManager
    canonical matching holds across every caller (the r11 cache-census
    invariant). Equality of the two paths at the _N_PLANES width is
    asserted in tests/test_northstar.py.

    Known, accepted overhead (ADVICE r14): always emitting the widest
    geometry does a dim × (45·16 = 720) matmul per batch even when the
    caller slices to the 16 × 5-bit floor — ~2.8× the map-side flops of
    the pre-r14 dim × 256 product, paid at every scale. It buys ONE
    canonical cached UDF object (cache-census invariant above) and is
    map-side CPU only (never shuffle); the fixture-scale cost is in the
    bench series, so a future narrow-UDF split would show its win there.
    """
    import numpy as np
    import pandas as pd

    if len(emb) == 0:  # np.vstack raises on an empty batch
        return pd.Series([], dtype=object)
    x = np.vstack(emb.to_numpy())  # (n, dim)
    bits = (x @ _coeff_matrix(x.shape[1]) >= 0).astype(np.int64)
    weights = np.tile(
        1 << np.arange(_MAX_PLANES - 1, -1, -1, dtype=np.int64), _MAX_TABLES
    )
    packed = (bits * weights).reshape(-1, _MAX_TABLES, _MAX_PLANES).sum(axis=2)
    return pd.Series(list(packed.astype(np.int32)))


def bucketed_all_tables(
    v: DataFrame, n_planes: int = _N_PLANES, n_tables: int = _N_TABLES
) -> DataFrame:
    """(vec_id, emb) → (vec_id, emb, tbl, bucket) for `n_tables` LSH
    tables in ONE corpus pass, at an `n_planes`-bit code width.

    All _MAX_TABLES × _MAX_PLANES projections are computed per row by
    the Arrow-batched matmul UDF, then sliced to the requested table
    count, pivoted to rows with `posexplode` and right-shifted to the
    requested width — versus a per-table union, which re-scans (and
    re-computes the bucket expressions over) the corpus once per
    table. Output volume is n × n_tables rows; input volume drops
    n_tables× and the projection math runs vectorized. Dimensionality
    is inferred from the data (the coefficient matrix is built per
    observed dim). At the default geometry the slice+shift leaves
    exactly the historical 16 tables of 5-bit ids, so every
    fixture-scale output (and the static DuckDB oracle) is unchanged;
    scale-aware callers pass `n_planes_for(corpus_count)` and
    `n_tables_for(width)` (see their docstrings for the measured
    quadratic / recall decay each rule bounds).
    """
    from ..serialization import pickle_module_by_value

    # Loud guard (ADVICE r14): F.slice past the array end would
    # SILENTLY return fewer tables than requested and degrade recall
    # with no error; likewise shiftright past the precomputed width
    # would emit garbage buckets. All production callers come through
    # n_planes_for/n_tables_for (capped by construction) — this guards
    # explicit-geometry callers (tools, tests).
    if not 1 <= n_tables <= _MAX_TABLES:
        raise ValueError(
            f"n_tables={n_tables} outside [1, {_MAX_TABLES}] — the UDF "
            f"precomputes exactly {_MAX_TABLES} tables (_MAX_TABLES)"
        )
    if not 1 <= n_planes <= _MAX_PLANES:
        raise ValueError(
            f"n_planes={n_planes} outside [1, {_MAX_PLANES}] — the UDF "
            f"precomputes exactly {_MAX_PLANES}-bit codes (_MAX_PLANES)"
        )
    pickle_module_by_value(__name__)
    return v.select(
        "vec_id", "emb", _lsh_bucket_ids("emb").alias("_bks")
    ).select(
        "vec_id",
        "emb",
        F.posexplode(F.slice("_bks", 1, n_tables)).alias("tbl", "_wide"),
    ).select(
        "vec_id",
        "emb",
        "tbl",
        F.shiftright("_wide", _MAX_PLANES - n_planes).alias("bucket"),
    )


def ann_probe_buckets(probes: DataFrame, n_planes: int) -> DataFrame:
    """Multi-probe expansion of an ANN probe frame (Lv et al., VLDB'07).

    Width adaptation protects the DEDUP self-join (candidates within
    ≥0.9-cosine pairs keep per-bit collision 0.856, so 8-plane recall
    stays ≈0.996), but ANN probing hunts ~0.5-cosine neighbors whose
    per-bit collision is only ~0.67 — at 8 planes a single-bucket probe's
    union recall over 16 tables collapses from ~0.89 to ~0.47 (ADVICE
    r12). The standard fix: probe the neighborhood, not just the home
    bucket. Each probe row fans out to its home bucket plus every
    1-bit-flip bucket — the `n_planes` codes nearest in hamming space,
    exactly the buckets a near-miss sign flip would have landed in. At 8
    planes that restores per-table hit probability to p⁸+8p⁷(1−p) ≈ 0.20
    (p = 0.67), union ≈ 0.97 over 16 tables — ABOVE the plain 5-plane
    0.89 — while candidate volume stays (probe buckets)·occupancy·tables
    per probe, occupancy-bounded by n_planes_for.

    The probe DEPTH scales with width (r14, VERDICT r13 what's-wrong
    #2): 1-bit flips stop compensating around width 12 (union recall
    0.59 at w=12 over 16 tables — through the 0.6 floor), so
    `probe_radius_for` deepens the sequence to every ≤2-bit flip from
    width 12 up, holding union recall ≥ 0.93 at all 2-bit widths (and
    ≥ 0.79 at every width) with the matching `n_tables_for` count. Probe fan-out
    is 1 + C(w,1) [+ C(w,2)] buckets — at w=16/r=2 that is 137 codes
    per (probe, table), each an int-literal XOR on the home bucket:
    still a broadcast-sized frame for any sane probe count, and probe
    cost is per-QUERY, not per-corpus. At the floor width the
    expansion is OFF (identity — the SAME DataFrame object), so every
    fixture-scale plan and the static DuckDB oracle are bit-for-bit
    unchanged; wide-width recall floors are gated in
    tests/test_northstar.py on forced-width runs (8 and 13), not
    computed from the formula.
    """
    radius = probe_radius_for(n_planes)
    if radius == 0:
        return probes
    masks = [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    flips = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks],
    )
    return probes.withColumn("bucket", F.explode(flips))


# The corpus size past which hyperplane LSH's width cap makes per-bucket
# occupancy grow linearly-in-n again (n_planes_for's honest boundary:
# occupancy n/2^w with w pinned at _MAX_PLANES once n > target·2^w).
# Until r15 the boundary was prose routing ("the scale path is the IVF
# route" — a docstring); now q_sim_ann consults the parquet footer count
# and DELEGATES past it (VERDICT r14 item 4). The threshold is exact,
# not tuned: it is the n where n_planes_for first returns a capped
# width, i.e. where the occupancy-≤-target invariant breaks.
ANN_IVF_CROSSOVER = _TARGET_BUCKET << _MAX_PLANES  # 125·2¹⁶ = 8,192,000


def ann_route(n: int) -> str:
    """'lsh' while the width cap holds occupancy at the target, 'ivf'
    past it — the cross-over `q_sim_ann` executes (boundary-tested in
    tests/test_northstar.py, including a forced-threshold delegation
    equality run at fixture scale)."""
    return "lsh" if n <= ANN_IVF_CROSSOVER else "ivf"


# Per-reducer occupancy cap before a (tbl, bucket) cell is salt-split
# in the dedup self-join (r15, VERDICT r14 item 3 — the last
# narrated-not-enforced geometry rule made code, the width-r12 /
# bands-r13 / cells-r14 playbook). Why 4× the occupancy target: the
# r14 clustering-detector study (SCALE.md) measured max occupancy on a
# RANDOM 500k corpus at 318 ≈ 2.5× target (ceil-width quantization can
# put the mean near 2× right after a width step, and the skew tail
# adds ~25%), so 4× stays strictly dormant on every uniform corpus —
# zero overhead in the common case — while the PLANTED-CLUSTER corpus
# from the same study (1000 clusters × 500 members, ~0.9 within-
# cluster cosine) peaked at 819 = 6.6× target and splits into two.
_SALT_MAX_OCC = 4 * _TARGET_BUCKET


def salt_splits_for(occ: int) -> int:
    """Salt-group count for a bucket of occupancy `occ`: ⌈occ /
    _SALT_MAX_OCC⌉, floored at 1 — the pure-Python twin of the column
    expression in `salted_half_pairs` (consistency is test-pinned)."""
    return max(1, -(-occ // _SALT_MAX_OCC))


def salted_half_pairs(bucketed: DataFrame, max_occ: int = None) -> DataFrame:
    """Candidate half-pairs (doc_id < nn_id, co-bucketed in some
    (tbl, bucket) cell of ``bucketed``'s vec_id rows) with hot cells
    SALT-SPLIT so no reducer's pair work exceeds ~occ × _SALT_MAX_OCC
    (``max_occ`` overrides the cap).

    The plain self-join shuffles both sides on the cell key: one
    clustered-corpus cell of occupancy m lands m² candidate work on ONE
    reducer — a production embedding corpus with a mega-cluster is
    exactly the straggler the skew column warns about. Lossless split:
    each cell of occupancy m gets s = ⌈m/cap⌉ salt groups; the LEFT side
    keeps one deterministic group per row (xxhash64(id) mod s), the
    RIGHT side replicates each row into all s groups, and the join adds
    _salt to the equi key — pair (a, b) with a < b matches exactly where
    b's replica meets a's group, so the OUTPUT IS IDENTICAL to the
    unsalted join at every scale (the static DuckDB oracle replays
    whether or not the cap engaged; a planted-cluster equality test pins
    it). Costs, by construction: per-reducer pair work falls m² → m·cap;
    right-side replication adds m²/cap rows — asymptotically free next
    to the m²/2 candidate pairs the cell emits anyway.

    Occupancy comes from a groupBy aggregate joined back with an explicit
    F.broadcast hint. That is legal because the cell domain is capped by
    the geometry, not the data: ≤ n_tables · 2^n_planes ≤ 45·2¹⁶ ≈ 2.9M
    rows (~47 MB) at the width cap, bounded by the same construction as
    the IVF centroid broadcast, and KBs at any fixture scale, where the
    maximum occupancy is ≈ 2× target and the split stays dormant
    (test-pinned).
    """
    cap = _SALT_MAX_OCC if max_occ is None else max_occ
    cells = ["tbl", "bucket"]
    counts = bucketed.groupBy(*cells).agg(F.count(F.lit(1)).alias("_occ"))
    wb = (
        bucketed.select("vec_id", *cells)
        .join(F.broadcast(counts), cells)
        .withColumn("_s", F.ceil(F.col("_occ") / F.lit(cap)).cast("int"))
    )
    left = wb.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.col("_s")).cast("int")
    )
    right = wb.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    )
    cond = (
        (F.col("a.tbl") == F.col("b.tbl"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a._salt") == F.col("b._salt"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    return (
        left.alias("a")
        .join(right.alias("b"), cond)
        .select(
            F.col("a.vec_id").alias("doc_id"), F.col("b.vec_id").alias("nn_id")
        )
    )


# --- ANN: IVF (inverted-file) variant ---------------------------------------

_IVF_K = 16  # coarse-centroid floor — and the exact count at fixture scale
_IVF_NPROBE = 4  # probe floor — and the exact count at fixture scale


def ivf_cells_for(n: int) -> int:
    """Coarse-cell count for an n-vector corpus: ⌈√(n/8)⌉, floored at
    the historical _IVF_K — the similarity family's LAST fixed
    geometry made a rule (r14; n_planes_for/n_tables_for are the LSH
    precedents, VERDICT r12 item 1 the playbook).

    At a FIXED k=16, SemDeDup's within-cell pair scan is Θ(n²/16) — a
    quadratic with no fuse at all ("at 100 TB k grows" was a docstring,
    not code) — and IVF cells outgrow executors. √n is the classic
    flat-IVF balance point: assignment costs n·k·d flops (one Arrow
    matmul), within-cell verification Θ(n²·d/k), equal at k ≈ √n; the
    /8 anchors the FLOOR boundary exactly at the 2000-vector fixture
    (⌈√(2000/8)⌉ = 16), so every fixture-scale plan and static DuckDB
    oracle (LIMIT 16 centroid sample) replays bit-for-bit, and erring
    below the balance point puts the extra work in the dense matmul
    rather than the shuffle join. Values: 16 through n=2048, then
    23 @ 4k, 80 @ 50k, 250 @ 500k, 791 @ 5M, ~35k @ 10¹⁰ — the
    centroid table stays broadcast-sized (35k × 64 f64 ≈ 18 MB) at
    every reachable corpus, and SemDeDup's within-cell volume becomes
    Θ(n^1.5) instead of Θ(n²): occupancy n/k = √(8n), e.g. 2,000 per
    cell at 500k vectors vs 31,250 under fixed-16."""
    import math

    return max(_IVF_K, math.ceil(math.sqrt(n / 8.0)))


def ivf_nprobe_for(k: int) -> int:
    """Cells searched per probe for a k-cell quantizer: ⌈√k⌉, floored
    at the historical _IVF_NPROBE — exactly 4 at the fixture's k=16
    (√16), so fixture plans and oracles are untouched. Probe-side
    candidate volume is nprobe·n/k = n/√k — sub-linear in n under
    ivf_cells_for. Recall semantics, honestly: on CLUSTERABLE data
    (IVF's domain) a query's true neighbors concentrate in its nearest
    cells and √k probes hold recall (gated on planted clusters in
    tests/test_northstar.py); on near-uniform data recall tracks the
    probed MASS fraction nprobe/k → 1/√k, which no nprobe rule short
    of brute force fixes — the fixture-scale 0.3-floor gate documents
    that regime, and hyperplane LSH (q_sim_ann) is the
    uniform-data tool."""
    import math

    return max(_IVF_NPROBE, math.ceil(math.sqrt(k)))


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared euclidean distance, sequential left fold (both engines
    sum the same 64 terms; see the float-margin note on q_sim_ann)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _matmul_routing_enabled(spark: SparkSession) -> bool:
    """Gate for the vectorized centroid-routing path (default ON).

    The scale probe (SCALE.md §Round-5 measured artifacts) found IVF's
    per-(vector, centroid) 64-term fold is the similarity family's most
    expensive linear pass — 5× the Arrow-matmul ANN path at 100×, and
    the matmul route measured 3× faster end-to-end at the 100× probe.
    It is equality-tested against the fold on the fixture
    (tests/test_northstar.py) and has been the default since r6, when
    q_sim_ivf / q_dedup_semantic rotated back into the driver-checked
    window (VERDICT r5 item 4). Escape hatch back to the interpreted
    fold: spark.aub.vectorRouting=fold."""
    try:
        return spark.conf.get("spark.aub.vectorRouting", "matmul") == "matmul"
    except Exception:
        return True


def _route_cells_matmul(
    v: DataFrame,
    centroids: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    emb_col: str = "emb",
) -> DataFrame:
    """(id, cell, crnk) — each vector's n_cells nearest centroids by
    (dist², cell id), computed as ONE (batch × dim) @ (dim × k) numpy
    pass per Arrow batch instead of k interpreted 64-term folds per row.

    The k×dim centroid table is collect()ed into the UDF closure —
    k-bounded by construction (16 at fixture scale, ⌈√(n/8)⌉ under
    ivf_cells_for — ~18 MB of f64 even at 10¹⁰ vectors), the same
    boundary class as the report model. Ties: distances are float64 and the measured
    assignment/routing margins dominate reordering error by ≥9 orders
    (see q_sim_ivf), so (dist², cell) ordering matches the fold path
    bit-for-bit on decisions; equality is test-pinned."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType

    from ..serialization import pickle_module_by_value

    pickle_module_by_value(__name__)
    rows = sorted(
        (r["cell"], r["centroid"]) for r in centroids.collect()
    )
    cells = np.array([c for c, _ in rows], dtype=np.int64)
    cmat = np.array([e for _, e in rows], dtype=np.float64)  # (k, dim)

    @F.pandas_udf(ArrayType(LongType()))
    def nearest_cells(emb):  # pd.Series[list[float]] -> pd.Series[list[int]]
        if len(emb) == 0:  # np.vstack raises on an empty batch
            return pd.Series([], dtype=object)
        x = np.vstack(emb.to_numpy())  # (n, dim)
        # (n, k) pairwise squared distances; explicit diff² sum keeps
        # the arithmetic in the same well-margined regime as the fold
        d2 = ((x[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        # stable argsort on dist2; cells[] is ascending, so ties break
        # to the LOWER cell id — the (dist2, cell) order both engines use
        idx = np.argsort(d2, axis=1, kind="stable")[:, :n_cells]
        return pd.Series(list(cells[idx]))

    return v.select(
        id_col,
        F.posexplode(nearest_cells(emb_col)).alias("_pos", "cell"),
    ).select(id_col, "cell", (F.col("_pos") + 1).alias("crnk"))


@query(
    "q_sim_ivf",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    centroids AS (
      SELECT vec_id AS cell, emb AS cemb FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
    ),
    vecd AS (
      SELECT vec_id, d.d, emb[CAST(d.d + 1 AS INT)] AS x
      FROM v, range(64) d(d)
    ),
    centd AS (
      SELECT cell, d.d, cemb[CAST(d.d + 1 AS INT)] AS cx
      FROM centroids, range(64) d(d)
    ),
    dist AS (
      SELECT vecd.vec_id, centd.cell,
             SUM((vecd.x - centd.cx) * (vecd.x - centd.cx)) AS dist2
      FROM vecd JOIN centd USING (d)
      GROUP BY vecd.vec_id, centd.cell
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cell) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    probe_cells AS (
      SELECT vec_id AS probe_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cell) AS crnk
        FROM dist WHERE vec_id < {N_PROBES}
      ) WHERE crnk <= {_IVF_NPROBE}
    ),
    cands AS (
      SELECT pc.probe_id, a.vec_id AS cand_id
      FROM probe_cells pc JOIN assigned a ON a.cell = pc.cell
      WHERE a.vec_id <> pc.probe_id
    ),
    scored AS (
      SELECT c.probe_id, c.cand_id,
             list_dot_product(p.emb, q.emb) /
               (sqrt(list_dot_product(p.emb, p.emb)) *
                sqrt(list_dot_product(q.emb, q.emb))) AS sim
      FROM cands c
      JOIN v p ON p.vec_id = c.probe_id
      JOIN v q ON q.vec_id = c.cand_id
    )
    SELECT probe_id, cand_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT probe_id, cand_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF: coarse quantizer cells + cluster probe.

    Build: the coarse quantizer is a DETERMINISTIC corpus sample — the
    k vectors ranked first by md5(vec_id) (FAISS-style random-subset
    centroid init, without Lloyd refinement; swap in k-means for
    tighter cells — the routing/assignment plan below is identical and
    is what matters to the engine), with k CORPUS-ADAPTIVE since r14
    (ivf_cells_for: exactly 16 at every fixture scale, √(n/8) above —
    the rule that also bounds SemDeDup's within-cell quadratic). Every
    vector joins its nearest centroid (broadcast k×dim table, map-side
    `min_by` aggregate — no corpus window). Search: each probe scores
    only its nprobe = ivf_nprobe_for(k) nearest cells' members —
    candidate volume ≈ nprobe·n/k = n/√k, sub-linear; the candidate
    join is an equi join on cell id. At 100 TB the assignment is
    written as a partition column so a probe reads only its cells'
    files (partition pruning does the routing).

    FULLY oracle-checked (was rows-only while the quantizer was MLlib
    k-means, whose iterative fit has no SQL twin): sampled centroids
    make the whole pipeline a pure function — the DuckDB oracle replays
    centroid selection (same md5 ranking), nearest-cell assignment with
    the same (dist², cell) tie-break, probe routing, and the cosine
    re-rank. Recall vs brute force stays gated in tests: approximation
    QUALITY is the one thing an exact replay cannot check.

    Float-margin (ADVICE r4 — mirrors the q_sim_ann LSH measurement):
    the oracle's dist² is a GROUP BY SUM (unordered) vs Spark's
    sequential 64-term fold, so cross-engine parity needs the decision
    margins to dominate summation-order error. Measured on the fixtures
    (tools-free numpy replay of the oracle): min rank-1→rank-2
    assignment gap 1.6e-5 (sf0.001) / 1.7e-4 (sf0.01); min
    rank-nprobe→rank-nprobe+1 routing gap 3.1e-2 / 1.9e-2. Reordering
    error for a 64-term double sum of magnitude ~1.5 is ~2e-14 —
    ≥9 orders of magnitude below every gap, so no tie can flip between
    engines. tests/test_northstar.py re-checks the margin on whatever
    fixture is current.
    """
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # scale-adaptive cell count / probe depth (r14 — see ivf_cells_for:
    # exactly the historical 16/4 at every fixture scale, so the static
    # oracle's LIMIT-16 sample replays; √n growth above). Corpus size
    # from the parquet footer — construction stays lazy.
    k_cells = ivf_cells_for(table_rows(spark, sf_dir, "embeddings"))
    nprobe = ivf_nprobe_for(k_cells)
    # deterministic sampled centroids: top k by md5(vec_id) —
    # a global sort-LIMIT (TakeOrdered: per-partition top-k + driver
    # merge of k rows), NOT a global window
    centroids = (
        v.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k_cells)
        .select(F.col("vec_id").alias("cell"), F.col("emb").alias("centroid"))
    )
    probes = v.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("probe_emb")
    )
    if _matmul_routing_enabled(spark):
        # vectorized route: one Arrow matmul per batch for all k cells
        assigned = _route_cells_matmul(v, centroids, 1).select(
            "vec_id", "cell"
        )
        probe_cells = (
            _route_cells_matmul(
                probes, centroids, nprobe, id_col="probe_id",
                emb_col="probe_emb",
            )
            .join(probes, "probe_id")
            .select("probe_id", "probe_emb", "cell")
        )
    else:
        # nearest-centroid assignment: broadcast the k×dim table, argmin
        # by (dist², cell) via map-side-combinable min_by — no corpus
        # window
        dist = v.crossJoin(F.broadcast(centroids)).select(
            "vec_id",
            "cell",
            _sq_dist(F.col("emb"), F.col("centroid")).alias("dist2"),
        )
        assigned = dist.groupBy("vec_id").agg(
            F.min_by("cell", F.struct("dist2", "cell")).alias("cell")
        )
        # route each probe to its nprobe nearest cells (tiny cross:
        # probes × k)
        w_cell = W.partitionBy("probe_id").orderBy(
            F.col("cdist").asc(), F.col("cell").asc()
        )
        probe_cells = (
            probes.crossJoin(F.broadcast(centroids))
            .withColumn(
                "cdist", _sq_dist(F.col("probe_emb"), F.col("centroid"))
            )
            .withColumn("crnk", F.row_number().over(w_cell))
            .filter(F.col("crnk") <= nprobe)
            .select("probe_id", "probe_emb", "cell")
        )
    cands = (
        assigned.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .join(v, "vec_id")  # re-attach the candidate embedding
        .select("probe_id", "probe_emb", F.col("vec_id").alias("cand_id"), "emb")
    )
    scored = cands.select(
        "probe_id",
        "cand_id",
        cosine(F.col("probe_emb"), F.col("emb")).alias("sim"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "probe_id",
            "cand_id",
            F.round("sim", 6).alias("cosine_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# --- Product quantization (PQ) encode -------------------------------------

_PQ_M = 8  # sub-spaces (64-dim embedding -> 8 x 8-dim sub-vectors)
_PQ_SUB = 8  # dims per sub-space
_PQ_KS = 64  # codes per sub-space codebook (production PQ uses 256 =
# 8-bit codes; 64 balances encode cost against the fixture's 500-vector
# corpus, where a larger sample stops being a "codebook")


def _pq_subcodebook(v: DataFrame) -> DataFrame:
    """(m, k, csub): the per-sub-space codebook — the _PQ_KS md5-ranked
    sample vectors sliced into _PQ_M sub-vectors. O(M x KS) rows; always
    broadcast."""
    samp = (
        v.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(_PQ_KS)
        .select(F.col("vec_id").alias("k"), F.col("emb").alias("cemb"))
    )
    cslices = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.slice("cemb", m * _PQ_SUB + 1, _PQ_SUB),
    )
    return samp.select("k", F.posexplode(cslices).alias("m", "csub"))


def _pq_slices(v: DataFrame) -> DataFrame:
    """(vec_id, m, sub): each vector exploded into its sub-vectors."""
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.slice("emb", m * _PQ_SUB + 1, _PQ_SUB),
    )
    return v.select("vec_id", F.posexplode(slices).alias("m", "sub"))


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, b{d2,k}): per-sub-space nearest-code assignment —
    shared by q_embed_pq (encode view) and q_sim_pq_adc (search)."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    csub = _pq_subcodebook(v)
    dist = _pq_slices(v).join(F.broadcast(csub), "m").select(
        "vec_id",
        "m",
        "k",
        _sq_dist(F.col("sub"), F.col("csub")).alias("d2"),
    )
    return dist.groupBy("vec_id", "m").agg(
        F.min(F.struct("d2", "k")).alias("b")
    )


@query(
    "q_embed_pq",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    samp AS (
      SELECT vec_id AS k, emb AS cemb FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_KS}
    ),
    subc AS (
      SELECT m.m, s.k, d.d,
             s.cemb[CAST(m.m * {_PQ_SUB} + d.d + 1 AS INT)] AS cx
      FROM samp s, range({_PQ_M}) m(m), range({_PQ_SUB}) d(d)
    ),
    vecd AS (
      SELECT vec_id, m.m, d.d,
             emb[CAST(m.m * {_PQ_SUB} + d.d + 1 AS INT)] AS x
      FROM v, range({_PQ_M}) m(m), range({_PQ_SUB}) d(d)
    ),
    dist AS (
      SELECT vecd.vec_id, vecd.m, subc.k,
             SUM((x - cx) * (x - cx)) AS d2
      FROM vecd JOIN subc ON vecd.m = subc.m AND vecd.d = subc.d
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, m, k, d2 FROM (
        SELECT vec_id, m, k, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM dist
      ) WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(CAST(k AS VARCHAR), '-' ORDER BY m) AS pq_code,
           ROUND(SUM(d2) / {_PQ_M * _PQ_SUB}, 6) AS mse
    FROM best GROUP BY vec_id
    """,
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011): each
    64-dim embedding becomes {_PQ_M} codebook ids — one per 8-dim
    sub-vector — plus its reconstruction MSE.

    THE storage-side companion to the IVF/LSH search paths: at 100 TB,
    raw float32 embeddings dominate the corpus footprint; PQ at these
    parameters stores {_PQ_M} small ids per vector (32x-plus
    compression) and powers asymmetric-distance search over codes. The
    codebook here is the same deterministic md5-ranked corpus sample as
    q_sim_ivf's quantizer, sliced per sub-space, and the code for a
    sub-space is the ID of its nearest sampled vector (no opaque
    0..k-1 renumbering — keeps the whole pipeline SQL-replayable; swap
    in per-sub-space k-means for tighter cells, the encode plan is
    identical).

    Plan shape: the codebook is O({_PQ_KS}) rows broadcast; each
    vector explodes to {_PQ_M} sub-vectors, joins the {_PQ_M} x
    {_PQ_KS}-row sub-codebook on sub-space id, and argmins via one
    lexicographic struct-min aggregate — map-side combinable, no
    window over the corpus. Tie-breaks are (d2, k); cross-engine float
    margins are fixture-measured in tests/test_northstar.py (the IVF
    methodology).
    """
    best = pq_codes(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("m", F.col("b.k").alias("k")))
                ),
                lambda st_: st_["k"].cast("string"),
            ),
        ).alias("pq_code"),
        F.round(F.sum("b.d2") / F.lit(_PQ_M * _PQ_SUB), 6).alias("mse"),
    )


@query(
    "q_sim_pq_adc",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    samp AS (
      SELECT vec_id AS k, emb AS cemb FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_KS}
    ),
    subc AS (
      SELECT m.m, s.k, d.d,
             s.cemb[CAST(m.m * {_PQ_SUB} + d.d + 1 AS INT)] AS cx
      FROM samp s, range({_PQ_M}) m(m), range({_PQ_SUB}) d(d)
    ),
    vecd AS (
      SELECT vec_id, m.m, d.d,
             emb[CAST(m.m * {_PQ_SUB} + d.d + 1 AS INT)] AS x
      FROM v, range({_PQ_M}) m(m), range({_PQ_SUB}) d(d)
    ),
    dist AS (
      SELECT vecd.vec_id, vecd.m, subc.k,
             SUM((x - cx) * (x - cx)) AS d2
      FROM vecd JOIN subc ON vecd.m = subc.m AND vecd.d = subc.d
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, m, k FROM (
        SELECT vec_id, m, k, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, k) AS rn
        FROM dist
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT pt.vec_id AS probe_id, b.vec_id AS cand_id,
             ROUND(SUM(pt.d2), 6) AS adc_dist2
      FROM best b
      JOIN dist pt ON pt.m = b.m AND pt.k = b.k
      WHERE pt.vec_id < {N_PROBES} AND b.vec_id <> pt.vec_id
      GROUP BY 1, 2
    )
    SELECT probe_id, cand_id, adc_dist2, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT probe_id, cand_id, adc_dist2,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY adc_dist2, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes (Jégou et al.,
    TPAMI 2011) — the search path product quantization exists for.

    Each probe computes a DISTANCE TABLE: its squared distance to every
    (sub-space, code) codebook entry — O(probes x M x KS) values,
    broadcast. A candidate's approximate distance is then M table
    LOOKUPS summed over its stored code ids — the candidate's raw
    floats are NEVER read at query time, which is the whole economics
    of PQ at 100 TB: the scan side touches only the code table
    (M small ids per vector, 32x+ smaller than raw embeddings), and
    scoring is a broadcast equi-join on (sub-space, code) plus a
    map-side-combinable sum. Ranking orders by the ROUNDED (6 dp) ADC
    distance with a cand_id tie-break, so cross-engine summation-order
    deltas (~1e-15) cannot reorder the top-k.

    Approximation quality (ADC top-k vs exact cosine top-k) is gated
    in tests/test_northstar.py — the one property the exact SQL replay
    cannot check.
    """
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    csub = _pq_subcodebook(v)
    probes = v.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "emb"
    )
    pslices = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
        lambda m: F.slice("emb", m * _PQ_SUB + 1, _PQ_SUB),
    )
    ptab = (
        probes.select("probe_id", F.posexplode(pslices).alias("m", "psub"))
        .join(F.broadcast(csub), "m")
        .select(
            "probe_id",
            "m",
            "k",
            _sq_dist(F.col("psub"), F.col("csub")).alias("td2"),
        )
    )
    codes = pq_codes(spark, sf_dir).select(
        "vec_id", "m", F.col("b.k").alias("k")
    )
    scored = (
        codes.join(F.broadcast(ptab), ["m", "k"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("vec_id").alias("cand_id"))
        .agg(F.round(F.sum("td2"), 6).alias("adc_dist2"))
    )
    w = W.partitionBy("probe_id").orderBy("adc_dist2", "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "probe_id",
            "cand_id",
            "adc_dist2",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


_LSH_ORACLE_PLANES = """
    s0 AS (
      SELECT t.t, p.p, d.d,
             (t.t*1000003 + p.p*7919 + d.d*104729 + 2654435769)
               % 4294967296 AS x0
      FROM range(16) t(t), range(5) p(p), range(64) d(d)
    ),
    s1 AS (
      SELECT t, p, d,
        CAST((CAST(xor(x0, x0 >> 16) AS HUGEINT) * 2246822507)
             % 4294967296 AS BIGINT) AS x1
      FROM s0
    ),
    s2 AS (
      SELECT t, p, d,
        CAST((CAST(xor(x1, x1 >> 13) AS HUGEINT) * 3266489909)
             % 4294967296 AS BIGINT) AS x2
      FROM s1
    ),
    coeffs AS (
      SELECT t, p, d, xor(x2, x2 >> 16) / 2147483648.0 - 1.0 AS coeff
      FROM s2
    ),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    vecd AS (
      SELECT vec_id, d.d, emb[CAST(d.d + 1 AS INT)] AS x
      FROM v, range(64) d(d)
    ),
    proj AS (
      SELECT vec_id, t, p, SUM(x * coeff) AS proj
      FROM vecd JOIN coeffs USING (d)
      GROUP BY vec_id, t, p
    ),
    buckets AS (
      SELECT vec_id, t AS tbl,
             SUM(CASE WHEN proj >= 0 THEN 1 ELSE 0 END
                 * (1 << CAST(4 - p AS INT))) AS bucket
      FROM proj GROUP BY vec_id, t
    )
"""


@query(
    "q_sim_ann",
    oracle=f"""
    WITH {_LSH_ORACLE_PLANES},
    cands AS (
      SELECT DISTINCT pb.vec_id AS probe_id, cb.vec_id AS cand_id
      FROM buckets pb JOIN buckets cb
        ON pb.tbl = cb.tbl AND pb.bucket = cb.bucket
      WHERE pb.vec_id < {N_PROBES} AND cb.vec_id <> pb.vec_id
    ),
    scored AS (
      SELECT c.probe_id, c.cand_id,
             list_dot_product(p.emb, q.emb) /
               (sqrt(list_dot_product(p.emb, p.emb)) *
                sqrt(list_dot_product(q.emb, q.emb))) AS sim
      FROM cands c
      JOIN v p ON p.vec_id = c.probe_id
      JOIN v q ON q.vec_id = c.cand_id
    )
    SELECT probe_id, cand_id, ROUND(sim, 6) AS cosine_sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT probe_id, cand_id, sim,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH + exact re-rank.

    _N_TABLES independent bucketings; probe meets candidate iff they
    share a bucket in ≥1 table (union of equi joins — never a cross
    join). Exact cosine re-ranks the candidates; recall vs brute force
    is asserted ≥0.6 in tests at k=10.

    FULLY oracle-checked despite being "approximate" (was rows-only
    through r3): the approximation is a deterministic pure function —
    `_plane_coeff` is a splitmix-style integer mix, not an RNG — so the
    DuckDB oracle replays the ENTIRE pipeline exactly: the 32-bit mix in
    HUGEINT-masked arithmetic, the 16×5×64 hyperplane grid, projection
    sign bits packed MSB-first, bucket equi-join candidacy, exact cosine
    re-rank with the same cand_id tie-break. Any drift in bucketing,
    candidate generation, or ranking hash-mismatches the driver row.
    (Residual float caveat: a projection exactly at ±ulp of 0 could in
    principle sign-flip between numpy's pairwise matmul and DuckDB's SUM
    fold; measured min |projection| on the sf0.01 fixture is 6.4e-6
    across all 40k projections, ~9 orders above the ~1e-15 reassociation
    error of a 64-term double sum — no flip is reachable.)

    LSH→IVF cross-over (r15, VERDICT r14 item 4): past
    `ANN_IVF_CROSSOVER` vectors (8.192M — where n_planes_for's width
    cap bites and per-bucket occupancy goes linear-in-n again) this
    query DELEGATES to the IVF path (`q_sim_ivf`: same output schema
    and determinism, cell count √(n/8) scaling smoothly where a bit
    width cannot) instead of silently serving the capped geometry.
    The threshold sits ~4000× above the largest fixture, so every
    fixture/driver-scale plan and the static LSH oracle are untouched;
    the delegation itself is tested at fixture scale by forcing the
    threshold below the corpus size and asserting result equality with
    q_sim_ivf (tests/test_northstar.py).
    """
    n_corpus = table_rows(spark, sf_dir, "embeddings")
    if ann_route(n_corpus) == "ivf":
        # past the width cap: the capped LSH geometry would quietly
        # return to linear occupancy growth — route to the operator
        # whose geometry still scales (q_sim_ivf is itself fully
        # oracle-checked under its own key)
        return q_sim_ivf(spark, sf_dir)
    dim = 64  # embeddings fixture dimension (FIXTURES.md)
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # scale-adaptive code width (n_planes_for): 5 planes — the width
    # the static oracle replays — at every fixture scale; wider only
    # when occupancy demands it. Corpus size comes from the parquet
    # FOOTER (catalog.table_rows, memoized) — construction stays lazy
    # and side-effect-free (ADVICE r12: the former v.count() ran an
    # eager corpus scan per plan construction). ANN probing widens
    # WITH multi-probe compensation: at widths above _N_PLANES each
    # probe also visits every neighbor bucket within the width-scaled
    # hamming radius (probe_radius_for — 1-bit flips through width 11,
    # 2-bit from 12), and the table count grows with width
    # (n_tables_for) so union recall never falls below ~0.79 (≥0.93
    # in the 2-bit regime) while
    # per-bucket occupancy stays bounded (see ann_probe_buckets).
    n_planes = n_planes_for(n_corpus)
    bucketed = bucketed_all_tables(
        v, n_planes=n_planes, n_tables=n_tables_for(n_planes)
    )
    probes = ann_probe_buckets(
        bucketed.filter(F.col("vec_id") < N_PROBES).select(
            F.col("vec_id").alias("probe_id"),
            F.col("emb").alias("probe_emb"),
            "tbl",
            "bucket",
        ),
        n_planes,
    )
    cands = (
        bucketed.join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "probe_emb", F.col("vec_id").alias("cand_id"), "emb")
        .dropDuplicates(["probe_id", "cand_id"])
    )
    scored = cands.select(
        "probe_id",
        "cand_id",
        cosine(F.col("probe_emb"), F.col("emb")).alias("sim"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "probe_id",
            "cand_id",
            F.round("sim", 6).alias("cosine_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )
