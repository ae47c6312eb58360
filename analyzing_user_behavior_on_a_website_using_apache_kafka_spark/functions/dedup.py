"""Deduplication operators (exact and near-dup) over `documents`.

The LLM-data-pipeline dedup ladder, each a separate declared query:

- exact:   hash-groupBy on the full text (one shuffle on the text hash);
- minhash: the exact Jaccard ≥ 0.95 pairs, each flagged by whether its
  two documents share a MinHash band key (8 bands × 4 minhashes), the
  recall invariant of MinHash-LSH checked pair by pair;
- ngram Jaccard: exact similarity join via lossless prefix filtering;
- clusters: connected components over the near-dup graph (iterative
  min-label propagation), keeper per component;
- simhash: the identical-token-set pairs, each with the hamming distance
  of its 128-bit sign-sum fingerprints and whether a 32-bit band matches;
- embedding cosine: LSH-candidate nearest-neighbor flagging.

Exact dedup groups on an md5 of the text, so its shuffle carries a
fixed-width key per document, not the document. Every pair join is an
equi-join on a blocking key (prefix tokens, q-grams, LSH buckets); the
corpus is never cross-joined.

_CACHE_OWNERSHIP: the explicit ``persist(MEMORY_AND_DISK)`` calls in
this module (minhash signatures, jaccard prefixes, containment ordered,
semantic assignment, editdist location-prefixes (``withpre``), simhash
fingerprints, embed-cosine buckets and scored half-pairs), plus the
O(hours×types) rollup/interpolation base in ``operators/timeseries.py``
and the O(languages) count relation in ``functions/sampling.py``'s
temperature resampler, are SESSION-LIFETIME by design: the DataFrame API
gives no sound unpersist point inside a lazily-returned plan (the
consumer's action hasn't run yet), and the memoized relations (verified
pairs → clusters) are shared across queries on purpose, like the staged
tables a production pipeline would materialize. All rows cached are slim
projections (ids + hashes, never document text or embeddings), so the
resident set is O(corpus keys), and MEMORY_AND_DISK spills rather than
evicting or OOMing. Timing harnesses own cache hygiene instead
(``session.evict_caches``), and tests build per-fixture sessions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

# Deterministic MinHash: k independent permutations h_i(x) = (a_i*x + b_i) mod p
# over token hashes reduced into [0, p). Seeds fixed so every run/engine sees
# the same signatures (SURVEY §7: "LSH determinism: seed everything").
# p = 2^31-1 keeps a*h+b < 2^63 — no int64 overflow under Spark ANSI mode.
_MERSENNE_P = (1 << 31) - 1
_N_HASHES = 32
_N_BANDS = 8  # 8 bands × 4 rows — catches jaccard ≳ 0.5 pairs w.h.p.


def minhash_chance_pairs(n: int) -> float:
    """Expected CHANCE band matches (document pairs with distinct
    4-minhash tuples whose band keys nonetheless collide) for an n-doc
    corpus.

    MinHash band keys are `xxhash64` over the band's 4 minhash values, a
    64-BIT key space regardless of corpus size. Two docs with EQUAL
    tuples matching is the LSH signal itself (P = J⁴ per band, the
    intended recall curve); the only chance term is an xxhash64
    collision between DISTINCT tuples: E = _N_BANDS · C(n,2) / 2⁶⁴ ≈
    4n²/2⁶⁴, ~135 pairs at 2.5·10¹⁰ docs. The tuple space itself
    (4 values < 2³¹ → 2¹²⁴) never binds; 2⁶⁴ is the fuse, and it holds
    to ~10¹² docs. Enforced by test_minhash_band_space_fuse."""
    return _N_BANDS * n * (n - 1) / 2 / 2**64


def _minhash_params() -> list[tuple[int, int]]:
    rng_state = 0x5EED
    params = []
    for _ in range(_N_HASHES):
        # xorshift64 — deterministic, no external RNG dependency
        rng_state ^= (rng_state << 13) & ((1 << 64) - 1)
        rng_state ^= rng_state >> 7
        rng_state ^= (rng_state << 17) & ((1 << 64) - 1)
        a = (rng_state % (_MERSENNE_P - 1)) + 1
        rng_state ^= (rng_state << 13) & ((1 << 64) - 1)
        rng_state ^= rng_state >> 7
        rng_state ^= (rng_state << 17) & ((1 << 64) - 1)
        b = rng_state % _MERSENNE_P
        params.append((a, b))
    return params


@query(
    "q_dedup_exact",
    oracle="""
    SELECT text_hash, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(keeper_doc_id AS BIGINT) AS keeper_doc_id
    FROM (
      SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
             MIN(doc_id) AS keeper_doc_id
      FROM documents GROUP BY md5(text)
    )
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on a text fingerprint, keep min doc_id.

    Grouping on md5(text) instead of text itself: the shuffle moves a
    32-hex key per document, not the document — the difference between
    feasible and not at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → _N_HASHES minhash columns (mh_0..mh_31) over word tokens.

    Hybrid JVM/Arrow split, same shape and rationale as
    simhash_fingerprints: tokenize + xxhash64 + pmod stay JVM
    expressions (deterministic, shared with the pure-Python test
    reference), while the 32 affine permutations + mins run in one
    Arrow-batched pandas_udf (numpy broadcast multiply +
    minimum.reduceat). The 32 × `transform`+`array_min` expression
    form this replaced is INTERPRETED by Catalyst — measured 2.1 s
    steady at sf0.1 (5k docs) vs 0.4 s vectorized (r11). Map-only, no
    shuffle; null/empty token arrays yield all-NULL signature columns,
    exactly like `array_min` over an empty array did.
    Construction is pinned bit-exactly against a pure-Python replay in
    tests/test_northstar.py::test_minhash_signature_matches_python_reference.
    No overflow: h, a < 2³¹ so h·a+b < 2⁶² fits int64 on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
    hashed = F.transform(
        toks, lambda w: F.pmod(F.xxhash64(w), F.lit(_MERSENNE_P))
    )
    return d.select(
        "doc_id", _minhash_mins(hashed).alias("s")
    ).select(
        "doc_id",
        *[F.col(f"s.mh_{i}").alias(f"mh_{i}") for i in range(_N_HASHES)],
    )


# module-level + decorator-replaced name for the same two reasons as
# _simhash_sign_sum: one udf object per process (CacheManager canonical
# matching) and by-VALUE cloudpickle (a by-reference pickle needs the
# package importable inside vanilla-session Python workers)
# permutation coefficients as ndarrays (picklable by VALUE — see the
# note inside _minhash_mins)
_MH_A = np.array([a for a, _ in _minhash_params()], dtype=np.int64)
_MH_B = np.array([b for _, b in _minhash_params()], dtype=np.int64)


@F.pandas_udf(
    StructType(
        [StructField(f"mh_{i}", LongType()) for i in range(_N_HASHES)]
    )
)
def _minhash_mins(hashed: pd.Series) -> pd.DataFrame:
    cols = [f"mh_{i}" for i in range(_N_HASHES)]
    nrows = len(hashed)
    # _MH_A/_MH_B, not _minhash_params(): a module-level FUNCTION
    # referenced from the udf body is cloudpickled by reference and
    # needs the package importable inside the Python workers — the
    # exact vanilla-session failure the decorator pattern exists to
    # avoid. ndarray/int globals pickle by value.
    A, B = _MH_A, _MH_B
    empty = np.empty(0, dtype=np.int64)
    arrs = [
        np.asarray(x, dtype=np.int64) if x is not None else empty
        for x in hashed
    ]
    lens = np.fromiter((len(x) for x in arrs), np.int64, count=nrows)
    nz = lens > 0
    out = pd.DataFrame(
        {c: pd.array([None] * nrows, dtype="Int64") for c in cols}
    )
    if not nz.any():
        return out
    offs = np.zeros(nrows, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    offs_nz = offs[nz]  # compacted: see _simhash_sign_sum's note
    flat = np.concatenate(arrs)  # (T,), values < 2^31
    # (T, 32) permuted hashes; h*a+b < 2^62 — no int64 wrap
    perm = (flat[:, None] * A[None, :] + B[None, :]) % _MERSENNE_P
    mins = np.minimum.reduceat(perm, offs_nz, axis=0)  # (nz_rows, 32)
    for i, c in enumerate(cols):
        col = np.zeros(nrows, dtype=np.int64)
        col[nz] = mins[:, i]
        out[c] = pd.array(col, dtype="Int64")
        out.loc[~nz, c] = None
    return out


def minhash_band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, bk_0..bk_7): band j's key is the xxhash64 of minhashes
    4j..4j+3. Two documents meet in MinHash-LSH band j iff their bk_j
    are equal."""
    rows_per_band = _N_HASHES // _N_BANDS
    return sigs.select(
        "doc_id",
        *[
            F.xxhash64(
                *[
                    f"mh_{i}"
                    for i in range(
                        band * rows_per_band, (band + 1) * rows_per_band
                    )
                ]
            ).alias(f"bk_{band}")
            for band in range(_N_BANDS)
        ],
    )


def band_hits(pairs: DataFrame, keys: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b, ...) with both documents' band keys and a
    boolean ``band_hit``.

    ``keys`` holds one row per document: doc_id and one key column per
    band. Each key column c arrives as c_a (doc_a's) and c_b (doc_b's).
    ``band_hit`` is true iff some band j has equal keys on both sides,
    which is exactly when a banded LSH self-join would emit the pair.
    Keys are compared within a band only: doc_a's band-0 key equal to
    doc_b's band-1 key is not a hit. A NULL key matches nothing, as in
    an equi-join."""
    cols = [c for c in keys.columns if c != "doc_id"]

    def side(s: str) -> DataFrame:
        return keys.select(
            F.col("doc_id").alias(f"doc_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in cols],
        )

    hit = F.col(f"{cols[0]}_a") == F.col(f"{cols[0]}_b")
    for c in cols[1:]:
        hit = hit | (F.col(f"{c}_a") == F.col(f"{c}_b"))
    return (
        pairs.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .withColumn("band_hit", hit)
    )


_NEAR_CERTAIN_T = 0.95  # banding theory: P(miss) = (1−0.95⁴)⁸ ≈ 1.4e-6


@query(
    "q_dedup_near",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.words, b.words))), 6)
             AS jaccard,
           CAST(1 AS INT) AS in_lsh
    FROM tok a JOIN tok b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
          len(list_distinct(list_concat(a.words, b.words)))
          >= {_NEAR_CERTAIN_T}
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, driver-checked via its recall
    invariant: every pair with TRUE token-set jaccard ≥ 0.95 must be an
    LSH candidate, i.e. share at least one of its 8 band keys (banding
    theory puts the miss probability at (1−j⁴)⁸ ≈ 1.4e-6 per pair at
    j=0.95 — far below one expected miss on any fixture).

    The candidate set itself is engine-specific (its xxhash64-seeded
    signatures have no ANSI-SQL twin), so the registered query emits the
    SQL-expressible one-sided invariant: the exact-jaccard ≥ 0.95 pairs
    (prefix-filtered join, itself oracle-checked under
    q_dedup_ngram_jaccard), each with ``in_lsh`` (1/0, INT: the driver
    canonicalizer hashes int/double/string columns) set from the pair's
    own band keys by :func:`band_hits`. Only the exact pairs are ever
    checked, so no band self-join is built. The oracle asserts 1 for
    every row, so a single missed pair hash-mismatches the driver row.
    Broader recall (j ≥ 0.8 ⇒ ≥ 0.95) and estimate accuracy stay gated
    in tests/test_northstar.py.

    The signatures are persisted: they feed both the doc_a and the doc_b
    side, and the Arrow UDF lineage would otherwise run once per side.
    """
    from pyspark import StorageLevel

    sigs = minhash_signatures(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    true_near = prefix_filtered_jaccard_join(
        load_table(spark, sf_dir, "documents"), threshold=_NEAR_CERTAIN_T
    )
    return band_hits(true_near, minhash_band_keys(sigs)).select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.when(F.col("band_hit"), 1).otherwise(0).cast("int").alias("in_lsh"),
    )


_JACCARD_T = 0.5


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_distinct(string_split(text, ' ')) AS words
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.words, b.words))), 6)
             AS jaccard
    FROM tok a JOIN tok b
      ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
          len(list_distinct(list_concat(a.words, b.words))) >= 0.5
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide token-set Jaccard join via prefix filtering.

    AllPairs/PPJoin-style candidate generation (Bayardo et al., WWW'07;
    Xiao et al., WWW'08): tokens get a global total order (ascending
    document frequency, rarest first); for Jaccard ≥ t a document's
    *prefix* — its first |s| − ⌈t·|s|⌉ + 1 ordered tokens — must share a
    token with any qualifying partner's prefix. Candidates therefore
    come from an EQUI JOIN on exploded prefix tokens — a lossless
    blocking (the oracle is the exact all-pairs join), with no cross
    join and no quadratic per-block term keyed on a skewable attribute.
    Since r14 the PPJoin POSITIONAL filter prunes matched rows whose
    token ranks already cap the overlap below the threshold (see
    prefix_filtered_jaccard_join) — still lossless, fewer candidates
    into the dedup shuffle. Exact Jaccard verifies survivors via JVM
    higher-order set ops.

    100 TB notes: the token-frequency dictionary is vocabulary-sized →
    broadcast (hash-join it unhinted if the vocabulary outgrows the
    driver); candidate volume concentrates on rare tokens, which is the
    point of the frequency ordering. Verification joins shuffle word
    arrays by doc_id only for surviving candidates.
    """
    return ngram_jaccard_pairs(spark, sf_dir)


# Verified-pairs memo: q_dedup_ngram_jaccard AND q_dedup_clusters both
# need the full prefix-filtered pair join — by far the most expensive
# sub-plan in the dedup family (~95% of q_dedup_clusters' runtime was a
# recompute of it, VERDICT r4 item 2). A real pipeline stages
# pairs → clusters through a materialized intermediate; the in-session
# analog is one persisted DataFrame per (session, corpus, threshold),
# computed on first use. MEMORY_AND_DISK: pair volume is Ω(true dups),
# which can exceed executor memory on an adversarial corpus — spill,
# don't OOM. Keyed on the session OBJECT (identity-checked) so a stale
# entry from a stopped session can never be served to a new one.
_PAIR_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair with Jaccard ≥ _JACCARD_T —
    prefix-filtered exact similarity join (see q_dedup_ngram_jaccard),
    persisted per (session, corpus) so the pairs→clusters stage chain
    computes it once."""
    import os

    from pyspark import StorageLevel

    key = (id(spark), os.path.abspath(sf_dir))
    hit = _PAIR_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    d = load_table(spark, sf_dir, "documents")
    pairs = prefix_filtered_jaccard_join(d).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _PAIR_CACHE[key] = (spark, pairs)
    return pairs


def prefix_filtered_jaccard_join(
    docs: DataFrame, threshold: float = _JACCARD_T
) -> DataFrame:
    """Core prefix-filter join over any (doc_id, text) DataFrame —
    separated from the fixture loader so property tests can drive it
    with adversarial corpora. ``threshold`` must be a short decimal
    (0.5, 0.95, …): the prefix length uses its exact rational form in
    integer arithmetic, because ``ceil(t·n)`` in floating point can land
    one ulp high (0.95×20 → 19.000000000000004 → ceil 20) and silently
    drop the last prefix token — turning a lossless filter lossy."""
    from fractions import Fraction

    t = Fraction(str(threshold))
    tok = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("words")
    )
    words_ex = tok.select("doc_id", F.explode("words").alias("token"))
    freq = words_ex.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    # rebuild each doc's tokens sorted by the global (freq, token) order.
    # freq is UNHINTED on purpose (VERDICT r5 item 2): a word-frequency
    # table over a web-scale corpus is vocabulary-sized — Heaps' law puts
    # it in the billions of rows at 100 TB (URLs, typos, hapax legomena)
    # — and an explicit broadcast hint overrides both the size threshold
    # and AQE, OOMing every executor. A plain equi-join on token lets
    # AQE promote to broadcast whenever freq genuinely fits (it does at
    # test scale) and fall back to a shuffle join when it doesn't —
    # the same discipline as the edit-distance join's gram dictionary.
    ordered = (
        words_ex.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("freq", "token"))).alias(
                "wf"
            )
        )
    )
    # prefix length p = n − ⌈t·n⌉ + 1, via integer ceil:
    # ⌈(num·n)/den⌉ = floor((num·n + den − 1) / den)
    n = F.size("wf")
    ceil_tn = F.floor(
        (n * F.lit(t.numerator) + F.lit(t.denominator - 1))
        / F.lit(t.denominator)
    )
    p = (n - ceil_tn + 1).cast("int")
    # PERSIST the prefix relation: it feeds BOTH sides of the self-join
    # below, and Spark cannot deduplicate the two subtrees itself — the
    # higher-order lambdas (array_sort/transform) defeat plan
    # canonicalization, so neither static ReuseExchange nor AQE stage
    # reuse fires (measured: 12 corpus scans, the freq aggregate and
    # the per-doc sort each computed twice). One explicit persist is
    # the staged-pipeline materialization a production run would write
    # to a table anyway; MEMORY_AND_DISK because the relation is
    # O(corpus prefix tokens) — spill, don't OOM. Rows are slim
    # (doc_id, token).
    from pyspark import StorageLevel

    # posexplode, not explode (r14): carrying the token's 1-based rank
    # in the doc's globally-ordered token list costs one int per prefix
    # row and enables the PPJoin positional filter below. Rank in the
    # prefix == rank in the full sorted list, because the prefix IS its
    # first p tokens.
    prefixes = ordered.select(
        "doc_id",
        F.size("wf").alias("nt"),
        F.posexplode(
            F.slice(F.transform("wf", lambda s: s["token"]), F.lit(1), p)
        ).alias("pos0", "token"),
    ).select(
        "doc_id", "nt", (F.col("pos0") + 1).alias("pos"), "token"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # AllPairs length filter (lossless): J(A,B) ≥ t ⟹
    # |A∩B| ≥ t·|A∪B| ≥ t·max(|A|,|B|), and |A∩B| ≤ min(|A|,|B|), so
    # min·den ≥ num·max — in the threshold's exact integer form. Prunes
    # size-incompatible candidates BEFORE the dropDuplicates shuffle and
    # the array_intersect verify; matters most on real corpora, whose
    # token-set sizes span orders of magnitude.
    len_ok = F.least(F.col("pa.nt"), F.col("pb.nt")) * F.lit(
        t.denominator
    ) >= F.lit(t.numerator) * F.greatest(F.col("pa.nt"), F.col("pb.nt"))
    # PPJoin positional filter (Xiao et al., WWW'08; VERDICT r13 item
    # 4): a common token at ranks (i, j) of the two globally-ordered
    # token lists bounds the overlap — common tokens before it rank
    # before it in BOTH lists (≤ min(i−1, j−1) of them), those after
    # it rank after (≤ min(na−i, nb−j)) — so
    #   |A∩B| ≤ min(i, j) + min(na−i, nb−j),
    # while J ≥ t needs |A∩B|·(den+num) ≥ num·(na+nb) (the verify
    # stage's exact integer form). Rows whose bound cannot reach the
    # requirement are pruned BEFORE the dropDuplicates shuffle. The
    # per-ROW filter stays lossless for the PAIR: the bound holds for
    # EVERY common token, so a qualifying pair's matching rows all
    # pass — no pair loses its last row. Measured on the sf0.1
    # fixture: see SCALE.md r14 (candidate reduction with byte-
    # identical output; the oracle is the exact all-pairs join).
    overlap_ub = F.least(F.col("pa.pos"), F.col("pb.pos")) + F.least(
        F.col("pa.nt") - F.col("pa.pos"), F.col("pb.nt") - F.col("pb.pos")
    )
    pos_ok = overlap_ub * F.lit(t.denominator + t.numerator) >= F.lit(
        t.numerator
    ) * (F.col("pa.nt") + F.col("pb.nt"))
    cand = (
        prefixes.alias("pa")
        .join(
            prefixes.alias("pb"),
            (F.col("pa.token") == F.col("pb.token"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & len_ok
            & pos_ok,
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Verification: |A∪B| = |A| + |B| − |A∩B| (words are distinct), so
    # the only per-pair heavy op is ONE array_intersect — the naive
    # array_distinct(concat(a,b)) union is a second O(|A|+|B|) hash
    # build per pair, and writing `jac` in both the filter and the
    # projection made Spark evaluate everything twice (no cross-operator
    # CSE) — 4 heavy ops/pair → 1 (measured 153 s → 90 s on the sf0.1
    # join, 1.7×).
    # The threshold test runs in EXACT integer arithmetic:
    #   inter/(na+nb−inter) ≥ num/den  ⟺  inter·(den+num) ≥ num·(na+nb)
    # (denominator positive), so no float rounding can flip a boundary
    # pair vs the oracle; the float division only runs for survivors.
    a = tok.select(
        F.col("doc_id").alias("doc_a"),
        F.col("words").alias("wa"),
        F.size("words").alias("na"),
    )
    b = tok.select(
        F.col("doc_id").alias("doc_b"),
        F.col("words").alias("wb"),
        F.size("words").alias("nb"),
    )
    inter = F.size(F.array_intersect("wa", "wb"))
    survivors = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "na", "nb", inter.alias("inter"))
        .filter(
            F.col("inter") * F.lit(t.denominator + t.numerator)
            >= F.lit(t.numerator) * (F.col("na") + F.col("nb"))
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return survivors.select(
        "doc_a", "doc_b", F.round(jac, 6).alias("jaccard")
    )


_CONTAIN_T = 0.9  # overlap-coefficient threshold (short decimal — see below)


@query(
    "q_dedup_containment",
    oracle="""
    WITH tok AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
                 least(len(a.words), len(b.words)), 6) AS overlap
    FROM tok a JOIN tok b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.words, b.words)) * 10 >=
          9 * least(len(a.words), len(b.words))
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (containment) dedup: overlap coefficient
    |A∩B| / min(|A|,|B|) ≥ t over distinct-token sets.

    The dup class Jaccard misses: a document quoted, wrapped in
    boilerplate, or partially re-scraped inside a larger one has LOW
    Jaccard (the big doc's extra tokens swamp the union) but overlap ≈ 1
    — exactly the "contained near-duplicate" a training-data pipeline
    must catch (quote-inflated corpora double-count the contained text).

    Blocking is an asymmetric prefix filter, lossless for this measure:
    if |A| ≤ |B| and |A∩B| ≥ ⌈t·|A|⌉, A has fewer than p = |A| −
    ⌈t·|A|⌉ + 1 tokens outside B, so at least one of A's p rarest
    (frequency-ordered) tokens is in B. Candidates therefore come from
    equi-joining each doc's PREFIX tokens against every doc's FULL
    token postings, restricted to partners of equal-or-larger size —
    rare tokens keep the posting fan-out bounded. Exact-integer
    threshold verification (10·inter ≥ 9·min) as in the Jaccard join.
    """
    d = load_table(spark, sf_dir, "documents")
    return prefix_filtered_containment_join(d)


def prefix_filtered_containment_join(
    docs: DataFrame, threshold: float = _CONTAIN_T
) -> DataFrame:
    """Core containment (overlap-coefficient) join over any
    (doc_id, text) DataFrame — property-testable on adversarial
    corpora. ``threshold`` must be a short decimal: prefix length and
    the acceptance test both use its exact rational form (see
    prefix_filtered_jaccard_join on why float ceil is lossy)."""
    from fractions import Fraction

    t = Fraction(str(threshold))
    tok = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("words")
    )
    words_ex = tok.select("doc_id", F.explode("words").alias("token"))
    freq = words_ex.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    # freq deliberately UNHINTED — vocabulary-sized at 100 TB; see the
    # matching note in prefix_filtered_jaccard_join (VERDICT r5 item 2)
    ordered = (
        words_ex.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("freq", "token"))).alias(
                "wf"
            )
        )
    )
    n = F.size("wf")
    ceil_tn = F.floor(
        (n * F.lit(t.numerator) + F.lit(t.denominator - 1))
        / F.lit(t.denominator)
    )
    p = (n - ceil_tn + 1).cast("int")
    # PERSIST the frequency-ordered per-doc token relation: both the
    # probe (prefixes) and index (postings) sides below derive from it,
    # and the lambda-bearing lineage defeats Spark's exchange reuse
    # (see the matching note in prefix_filtered_jaccard_join), so
    # without the persist the tokenize + freq aggregate + per-doc sort
    # chain executes twice. MEMORY_AND_DISK: one row per doc, spills
    # rather than OOMs.
    from pyspark import StorageLevel

    ordered = ordered.persist(StorageLevel.MEMORY_AND_DISK)
    # probe side: the p rarest tokens per doc; index side: ALL tokens.
    # A probe only meets equal-or-larger partners (ties by doc_id keep
    # exactly one probe direction per equal-size pair alive — both
    # directions produce the same unordered pair anyway).
    prefixes = ordered.select(
        "doc_id",
        n.alias("nt"),
        F.explode(
            F.slice(F.transform("wf", lambda s: s["token"]), F.lit(1), p)
        ).alias("token"),
    )
    postings = ordered.select(
        "doc_id",
        n.alias("nt"),
        F.explode(F.transform("wf", lambda s: s["token"])).alias("token"),
    )
    cand = (
        prefixes.alias("pa")
        .join(
            postings.alias("pb"),
            (F.col("pa.token") == F.col("pb.token"))
            & (
                (F.col("pa.nt") < F.col("pb.nt"))
                | (
                    (F.col("pa.nt") == F.col("pb.nt"))
                    & (F.col("pa.doc_id") != F.col("pb.doc_id"))
                )
            ),
        )
        .select(
            F.least("pa.doc_id", "pb.doc_id").alias("doc_a"),
            F.greatest("pa.doc_id", "pb.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    a = tok.select(
        F.col("doc_id").alias("doc_a"),
        F.col("words").alias("wa"),
        F.size("words").alias("na"),
    )
    b = tok.select(
        F.col("doc_id").alias("doc_b"),
        F.col("words").alias("wb"),
        F.size("words").alias("nb"),
    )
    inter = F.size(F.array_intersect("wa", "wb"))
    mn = F.least("na", "nb")
    survivors = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", mn.alias("mn"), inter.alias("inter"))
        .filter(
            F.col("inter") * F.lit(t.denominator)
            >= F.lit(t.numerator) * F.col("mn")
        )
    )
    return survivors.select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter").cast("double") / F.col("mn"), 6).alias(
            "overlap"
        ),
    )


# --- Duplicate-cluster resolution (connected components) ------------------

_CC_MAX_ITERS = 50  # ≫ O(log n) for any realistic n; loud failure if hit


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE
    tok AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS words
      FROM documents
    ),
    edges AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM tok a JOIN tok b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) /
            len(list_distinct(list_concat(a.words, b.words))) >= 0.5
    ),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    reach(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.v, r.label FROM reach r JOIN sym s ON s.u = r.node
    )
    SELECT node AS doc_id,
           CAST(MIN(label) AS BIGINT) AS cluster_id,
           CAST(CASE WHEN MIN(label) = node THEN 1 ELSE 0 END AS INT)
             AS is_keeper
    FROM reach GROUP BY node
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components of the
    near-dup graph, keeper = min doc_id per component.

    Pair output (q_dedup_ngram_jaccard) is not what a dedup pipeline
    acts on — transitively-linked duplicates must collapse to ONE
    keeper even when A~B, B~C but A≁C. Components via alternating
    small-star/large-star rounds (see :func:`connected_components`) —
    O(log n) rounds independent of graph diameter, so web-crawl dup
    graphs with long chains cost tens, not thousands, of shuffles at
    100 TB.

    The oracle computes the same components exactly via a recursive-CTE
    transitive closure — this is the rare iterative algorithm with a
    SQL-checkable result.
    """
    # edge source is the per-session persisted pair set (shared with
    # q_dedup_ngram_jaccard); connected_components checkpoints its own
    # canonical orientation, so no extra lineage cut is needed here
    edges = ngram_jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = connected_components(nodes, edges)
    return labels.select(
        "doc_id",
        F.col("label").cast("bigint").alias("cluster_id"),
        F.when(F.col("label") == F.col("doc_id"), 1)
        .otherwise(0)
        .cast("int")
        .alias("is_keeper"),
    )


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, alg. 2): every node u
    re-links each STRICTLY LARGER neighbor v to m = min(Γ(u) ∪ {u}).
    Connectivity-preserving; larger-than-center chains collapse toward
    the local minimum. One groupBy + one join, both on u."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("u", "mn").alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge large→small, then every
    node u re-links its (all smaller) neighbors AND itself to
    m = min(Γ⁻(u) ∪ {u}). Turns shallow trees into stars."""
    o = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = o.groupBy("u").agg(F.min("v").alias("m"))
    return (
        o.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(m.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# per-fold edge budget of _forest_contract's incremental solve.  The
# RESIDENT arrays are two int64 x 4.2M edges ~ 64 MB per task, but the
# true transient peak is ~3-4x that (~200-270 MB): solve() concatenates
# the two arrays (+64 MB) and np.unique(return_inverse=True) adds a
# sort copy and an int64 inverse array of the same length (ADVICE r9 —
# the earlier comment equated the budget to a sort/agg task's page
# budget, which only held for the resident set).  Still O(chunk) and
# comfortably inside a multi-GB executor task slot, which is what the
# r8 OOM guard needs — NOT a correctness knob (any value folds to the
# identical star forest family; the final CC labels are invariant).
_CONTRACT_CHUNK_EDGES = 1 << 22


def _forest_contract(edges: DataFrame) -> DataFrame:
    """Per-partition edge sparsification — the map-only contraction
    pass in front of the small-star/large-star rounds (the edge-
    reduction optimization family of Kiveris et al. 2014; the same
    trick Boruvka-style distributed MST/CC codes use).

    Each task solves CC over ITS partition's edges locally (numpy
    min-label propagation + pointer jumping — every pass is a
    vectorized sweep of the edge arrays, so dense blobs converge in
    2-3 passes and a path graph in O(log n)) and emits ONE star edge
    per non-root local node: ≤ (#local nodes − 1) edges out no matter
    how many came in. The union of per-partition star forests has
    exactly the original graph's connected components (an edge dropped
    locally connects two nodes the local stars already connect), so
    the pass is lossless for CC and needs NO shuffle: the dup-pair
    graphs this feeds are dense near-clique blobs (8.9M pairs over 5k
    docs at sf0.1 → 149k forest edges), and contraction turns the
    Ω(E)-shuffle first star round into Ω(V·partitions).

    Memory per task is BOUNDED regardless of partition skew (ADVICE
    r8: the first cut concatenated the whole partition's edge arrays,
    so one skewed pair partition could OOM a worker where the pure-SQL
    star round would have spilled): edges fold into a running star
    forest in chunks of ``_CONTRACT_CHUNK_EDGES``.  Each fold solves
    CC over (current forest ∪ chunk) — the forest preserves every
    component seen so far, so the incremental fold is lossless by the
    same argument as the pass itself — and the forest re-collapses to
    ≤ one edge per non-root local node after every fold.  Peak memory
    is O(one chunk): ~64 MB resident (16 B/edge × 4.2M) plus ~3× that
    transiently inside ``solve`` (the concatenation and
    ``np.unique(return_inverse=True)``'s sort/inverse temporaries —
    see the ``_CONTRACT_CHUNK_EDGES`` note) plus one int per distinct
    local node — independent of how many edges the partition holds.
    """
    import numpy as np
    import pandas as pd

    def solve(eu_raw, ev_raw):
        """(u[], v[]) edge arrays -> (star child[], star parent[])."""
        # compress node ids to 0..n-1 (vectorized label propagation
        # needs labels usable as indices)
        nodes, inv = np.unique(
            np.concatenate([eu_raw, ev_raw]), return_inverse=True
        )
        eu, ev = inv[: len(eu_raw)], inv[len(eu_raw):]
        lab = np.arange(len(nodes))
        # min-label propagation + pointer jumping: each pass is pure
        # numpy over the edge arrays; dense dup blobs converge in 2-3
        # passes, a path graph in O(log n) thanks to the lab[lab] jump
        while True:
            m = np.minimum(lab[eu], lab[ev])
            before = lab.copy()
            np.minimum.at(lab, eu, m)
            np.minimum.at(lab, ev, m)
            lab = lab[lab]
            if np.array_equal(before, lab):
                break
        star = lab != np.arange(len(nodes))
        return nodes[star], nodes[lab[star]]

    empty = np.empty(0, dtype="int64")

    def gen(batches):
        fu, fv = empty, empty  # running star forest
        pend_u: list = []
        pend_v: list = []
        pending = 0
        for pdf in batches:
            u = pdf["u"].to_numpy(dtype="int64", copy=False)
            pend_u.append(u)
            pend_v.append(pdf["v"].to_numpy(dtype="int64", copy=False))
            pending += len(u)
            if pending >= _CONTRACT_CHUNK_EDGES:
                fu, fv = solve(
                    np.concatenate([fu, *pend_u]),
                    np.concatenate([fv, *pend_v]),
                )
                pend_u, pend_v, pending = [], [], 0
        if pending:
            fu, fv = solve(
                np.concatenate([fu, *pend_u]),
                np.concatenate([fv, *pend_v]),
            )
        yield pd.DataFrame(
            {
                "u": pd.Series(fu, dtype="int64"),
                "v": pd.Series(fv, dtype="int64"),
            }
        )

    return edges.mapInPandas(gen, "u bigint, v bigint")


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> DataFrame:
    """(doc_id) × (u, v) → (doc_id, label) with label = component min.

    Alternating small-star/large-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — O(log n) rounds in
    practice and provably O(log² n), INDEPENDENT of graph diameter. The
    r3 min-label-propagation needed diameter rounds (a 100 TB web-crawl
    dup graph has long chains → tens of full-edge-set shuffles) and gave
    up loudly; this converges on a 10k-node path graph in ~15 rounds
    (property-tested against a Python union-find and on high-diameter
    paths in tests/test_properties.py).

    Per round: 2 groupBy(u).min + 2 joins on u + distinct — all key-
    partitioned shuffles of the CURRENT edge set, which shrinks toward
    one star edge per non-root node. Convergence = canonical edge set
    stable, detected from one (count, hash-sum) scalar pair per round.

    Lineage truncation per round is conf-gated (VERDICT r4 item 4):
    default `localCheckpoint` keeps the truncated edge set in EXECUTOR
    storage — fastest, but one lost executor mid-iteration kills the
    job, unacceptable for an hours-long 100 TB run. Setting
    `spark.sql.ccReliableCheckpoint=true` (with a fault-tolerant
    `sparkContext.setCheckpointDir`, e.g. on HDFS/S3) switches every
    round to reliable `checkpoint()`: each round's edge set is written
    to the checkpoint store, so recovery replays at most one round.
    The sandbox default stays local (no durable FS here); see SCALE.md.
    """
    spark = edges.sparkSession
    reliable = (
        spark.conf.get("spark.sql.ccReliableCheckpoint", "false").lower()
        == "true"
    )

    def cut(df: DataFrame) -> DataFrame:
        """Truncate iterative lineage: executor-resident by default,
        reliable checkpoint store when conf-gated (see docstring)."""
        return df.checkpoint() if reliable else df.localCheckpoint()

    # Map-only spanning-forest contraction FIRST (see _forest_contract):
    # on the dense dup graphs this serves, it shrinks the edge set by
    # orders of magnitude (8.9M → 149k at sf0.1) before anything
    # shuffles — the canonical distinct and the first star round then
    # run on forests, not the raw pair set (r8; first round was the
    # dominant CC cost, 5.1 s of 7.5 s).
    # Then canonical small→large orientation, self-loops dropped.
    e = cut(
        _forest_contract(edges.where(F.col("u") != F.col("v")))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )

    def signature(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("n"),
            # decimal sum: exact and overflow-proof under ANSI mode
            # (summing raw 64-bit hashes overflows BIGINT)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = signature(e)
    converged = sig[0] == 0  # edgeless graph: nothing to iterate
    for _ in range(max_iters):
        if converged:
            break
        e = cut(_small_star(_large_star(e)))
        cur = signature(e)
        if cur == sig:
            converged = True
            break
        sig = cur
    if not converged:
        # silent fall-through would return WRONG labels (un-collapsed
        # trees still hold provisional minima) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge within "
            f"{max_iters} small-star/large-star rounds"
        )
    # fixpoint is a star per component: u → component-min root. Isolated
    # nodes (never in an edge) label themselves.
    roots = e.select(
        F.greatest("u", "v").alias("doc_id"), F.least("u", "v").alias("r")
    ).groupBy("doc_id").agg(F.min("r").alias("r"))
    return nodes.join(roots, "doc_id", "left").select(
        "doc_id", F.coalesce("r", F.col("doc_id")).alias("label")
    )


# --- SimHash --------------------------------------------------------------

# 128 bits = 4 × 32-bit bands. The fingerprint is stored as FOUR bigint
# columns sh0..sh3, one 32-bit band word each, so a band key IS the word
# (no shift/mask when comparing) and nothing touches a bigint's sign
# bit. Bits 0..63 come from xxhash64(token), bits 64..127 from
# xxhash64(1, token): two independent 64-bit hash families, both
# JVM-side. By pigeonhole, hamming ≤ 3 over 4 bands forces one
# identical band, so the band predicate loses no pair at that threshold.
# Identical token sets give identical fingerprints (the construction is
# a pure function of the token-hash set): hamming 0, equal in every
# band, which is what the driver-checked oracle asserts. Hamming ≤ 3 of
# 128 is a high-precision near-dup gate; MinHash-LSH (q_dedup_near) is
# the tunable-recall one.
_SIMHASH_BITS = 128
_SIMHASH_BANDS = 4
_SIMHASH_BAND_WIDTH = _SIMHASH_BITS // _SIMHASH_BANDS  # 32
_HAMMING_MAX = 3


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 128-bit SimHash over distinct word tokens (map-only).

    Classic sign-sum construction (Charikar 2002): bit i of the
    fingerprint is set iff more token hashes have bit i set than not.
    Output schema is doc_id + sh0..sh3, one bigint band word each
    (band j = global bits 32j..32j+31, values all non-negative).

    Hybrid JVM/Arrow split, measured at sf0.1 (5k docs, 32 threads):
    token hashing stays a JVM expression (xxhash64 over the distinct
    token array — deterministic, matches the pure-Python test
    reference), while the 128-bit majority vote is an Arrow-batched
    pandas_udf (numpy shift/mask + add.reduceat per bit). The
    all-expression alternatives do NOT codegen well at this width:
    128 × size(filter(...)) ran 7.1 s steady, 128 × F.aggregate
    8.1 s, a 64-field count-struct aggregate 16 s — versus 0.47 s for
    the vectorized UDF. A higher-order lambda's arity comes from its
    Python signature, so `lambda h, m=mask:` is the two-argument
    (element, index) form and the "default" binds to the ARRAY INDEX;
    that trap once collapsed every fingerprint to all-ones/all-zero.
    tests/test_northstar.py pins the construction bit-exactly against a
    pure-Python sign-sum of the collected token hashes, which a
    degenerate or drifted fingerprint cannot pass.
    Still map-only — no shuffle; the Arrow hop ships (doc_id, 2 hash
    arrays) once per doc and returns 32 bytes.
    """
    from ..serialization import pickle_module_by_value

    # The sign-sum UDF delegates to the module-level _sign_sum_bands; a
    # by-value-pickled UDF's reference to a named module-level function
    # would otherwise travel by module + qualname and die in
    # vanilla-session workers (the serialization.py rationale), so this
    # module is registered for by-value transport.
    pickle_module_by_value(__name__)

    d = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
    sign_sum = _simhash_sign_sum(
        F.transform(toks, lambda w: F.xxhash64(w)),
        F.transform(toks, lambda w: F.xxhash64(F.lit(1), w)),
    )
    return d.select("doc_id", sign_sum.alias("s")).select(
        "doc_id",
        *[F.col(f"s.sh{j}").alias(f"sh{j}") for j in range(_SIMHASH_BANDS)],
    )


# Module-level DECORATED definition, deliberately in the house style of
# similarity.cosine_arrow, for two load-bearing reasons:
#  - one udf object per process: PythonUDF equality feeds CacheManager
#    canonical-plan matching, and a per-call closure would make each
#    q_dedup_simhash invocation persist its own copy of the signature
#    table instead of reusing the entry;
#  - the DECORATOR must replace the function's module-level name.
#    `F.pandas_udf(_impl, t)` with `_impl` still importable lets
#    cloudpickle serialize the udf BY REFERENCE (module + qualname),
#    and the driver harness's vanilla session then dies in the Python
#    workers with ModuleNotFoundError — workers don't inherit the
#    driver's sys.path mutations. Decorating shadows the raw function,
#    cloudpickle falls back to by-value, and the udf ships
#    self-contained (caught by the /verify vanilla-session check, r11).
# DataType object, not a DDL string: a DDL type would parse against
# whatever session is active at import time (breaks pytest collection).
@F.pandas_udf(
    StructType(
        [StructField(f"sh{j}", LongType()) for j in range(_SIMHASH_BANDS)]
    )
)
def _simhash_sign_sum(hlo: pd.Series, hhi: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        _sign_sum_bands((hlo, hhi), _SIMHASH_BAND_WIDTH),
        columns=[f"sh{j}" for j in range(_SIMHASH_BANDS)],
    )


def _sign_sum_bands(families, band_width: int):
    """Sign-sum core of the SimHash UDF: `families` is a sequence of
    pd.Series of int64 hash arrays (one per 64-bit hash family, equal
    row lengths since all derive from one token array); returns an
    (nrows × _SIMHASH_BANDS) int64 matrix of band words at
    `band_width` bits per band (global bit wsel·64+b lands in word
    divmod(g, band_width)). Accumulates in uint64 so a 64-bit band may
    use bit 63, and reinterprets to int64 for the bigint columns; at 32
    bits the sign bit is never set, so the view is the identity."""
    nrows = len(families[0])
    out = np.zeros((nrows, _SIMHASH_BANDS), dtype=np.uint64)
    empty = np.empty(0, dtype=np.int64)
    # null/empty token arrays → all-zero fingerprint (0*2 > 0 is
    # false for every bit, same as the expression form)
    fam_arrs = [
        [
            np.asarray(x, dtype=np.int64) if x is not None else empty
            for x in fam
        ]
        for fam in families
    ]
    lens = np.fromiter((len(x) for x in fam_arrs[0]), np.int64, count=nrows)
    nz = lens > 0
    if not nz.any():
        return out.view(np.int64)
    # row-start offsets into the flattened hash stream, compacted
    # to NON-EMPTY rows only: reduceat demands every index be a
    # valid position (a trailing empty row's offset == len(flat)
    # raises), and equal neighboring offsets would return the
    # single element instead of an empty sum. Compacted offsets
    # sidestep both quirks: consecutive non-empty rows differ by
    # exactly the earlier row's length.
    offs = np.zeros(nrows, dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    offs_nz = offs[nz]
    half = lens[nz]
    for wsel, arrs in enumerate(fam_arrs):
        # int64 → uint64 view: logical (not sign-extending) shifts
        flat = np.concatenate(arrs).view(np.uint64)
        for b in range(64):
            bits = ((flat >> np.uint64(b)) & np.uint64(1)).astype(
                np.int64
            )
            ones = np.add.reduceat(bits, offs_nz)
            j, i = divmod(wsel * 64 + b, band_width)
            sel = np.zeros(nrows, dtype=bool)
            sel[nz] = (2 * ones) > half  # strict majority
            out[sel, j] |= np.uint64(1) << np.uint64(i)
    return out.view(np.int64)


@query(
    "q_dedup_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_sort(list_filter(list_distinct(string_split(text, ' ')),
                                   w -> w <> '')) AS words
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(0 AS INT) AS hamming,
           CAST(1 AS INT) AS in_bands
    FROM tok a JOIN tok b
      ON a.doc_id < b.doc_id AND a.words = b.words
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup check, driver-checked via its exactness
    invariant.

    The raw candidate set is engine-specific (xxhash64 fingerprints have
    no ANSI-SQL twin), so the registered query emits the SQL-expressible
    one-sided invariant instead, mirroring q_dedup_near: documents with
    IDENTICAL distinct-token sets have — deterministically — identical
    sign-sum fingerprints (the construction is a pure function of the
    token-hash set), hence hamming 0 and a match in every band. The
    oracle computes those pairs exactly (sorted-distinct-token-list
    equality, empty tokens filtered on BOTH engines so runs of spaces
    cannot split the pairing) and asserts hamming=0, in_bands=1. Each
    pair's flags come from its own fingerprints (:func:`band_hits` over
    sh0..sh3): a pair is in the bands iff some band word is equal and
    the popcount hamming is ≤ 3; otherwise it reads hamming -1,
    in_bands 0. Any fingerprint or banding regression mismatches the
    driver hash. The fixture makes this non-vacuous (444
    identical-set pairs at sf0.01).

    Scale shape: the pairs come from an equi-join on a 64-bit token-set
    hash (collision-checked on the array); the fingerprints attach by
    two doc_id equi-joins. They are persisted, because they feed both
    sides and the Arrow sign-sum would otherwise run once per side.
    """
    from pyspark import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    words = F.array_sort(
        F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
    )
    tok = d.select(
        "doc_id",
        words.alias("words"),
        # 64-bit shuffle key; the join re-checks the array so a hash
        # collision cannot fabricate a pair
        F.xxhash64(F.concat_ws(" ", words)).alias("wkey"),
    )
    same = (
        tok.alias("a")
        .join(
            tok.alias("b"),
            (F.col("a.wkey") == F.col("b.wkey"))
            & (F.col("a.words") == F.col("b.words"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    sigs = simhash_fingerprints(spark, sf_dir).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    hamming = sum(
        (
            F.bit_count(F.col(f"sh{j}_a").bitwiseXOR(F.col(f"sh{j}_b")))
            for j in range(_SIMHASH_BANDS)
        ),
        start=F.lit(0),
    )
    in_bands = F.col("band_hit") & (hamming <= _HAMMING_MAX)
    return band_hits(same, sigs).select(
        "doc_a",
        "doc_b",
        F.when(in_bands, hamming).otherwise(-1).cast("int").alias("hamming"),
        F.when(in_bands, 1).otherwise(0).cast("int").alias("in_bands"),
    )


def embed_cosine_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs nearest neighbor — TEST-ONLY recall oracle.

    O(n²) compute with the whole corpus broadcast: correct at fixture
    scale, impossible at 100 TB. Deliberately NOT registered as a query;
    tests/test_northstar.py uses it to measure the registered LSH
    version's nearest-neighbor recall.
    """
    from .similarity import cosine

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    probe = v.select(
        F.col("vec_id").alias("nn_id"), F.col("emb").alias("nn_emb")
    )
    scored = (
        v.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("nn_id"))
        .select(
            F.col("vec_id").alias("doc_id"),
            "nn_id",
            cosine(F.col("emb"), F.col("nn_emb")).alias("sim"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("sim").desc(), F.col("nn_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "nn_id",
            F.round("sim", 6).alias("nn_cosine"),
            F.when(F.col("sim") >= 0.9, 1).otherwise(0).alias("is_near_dup"),
        )
    )


def _embed_cosine_oracle() -> str:
    from .similarity import _LSH_ORACLE_PLANES

    return f"""
    WITH {_LSH_ORACLE_PLANES},
    cands AS (
      SELECT DISTINCT a.vec_id AS doc_id, b.vec_id AS nn_id
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT c.doc_id, c.nn_id,
             list_dot_product(p.emb, q.emb) /
               (sqrt(list_dot_product(p.emb, p.emb)) *
                sqrt(list_dot_product(q.emb, q.emb))) AS sim
      FROM cands c
      JOIN v p ON p.vec_id = c.doc_id
      JOIN v q ON q.vec_id = c.nn_id
    ),
    best AS (
      SELECT doc_id, nn_id, sim FROM (
        SELECT doc_id, nn_id, sim,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY sim DESC, nn_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT v.vec_id AS doc_id, b.nn_id, ROUND(b.sim, 6) AS nn_cosine,
           CAST(CASE WHEN b.sim >= 0.9 THEN 1 ELSE 0 END AS INT)
             AS is_near_dup
    FROM v LEFT JOIN best b ON b.doc_id = v.vec_id
    """


@query("q_dedup_embed_cosine", oracle=_embed_cosine_oracle())
def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: approximate NN per vector via hyperplane LSH.

    Candidate pairs form ONLY inside (table, bucket) equi-join cells of
    the same deterministic random-hyperplane LSH used by `q_sim_ann` —
    the corpus is never cross-joined and never broadcast (the join is a
    shuffled hash/sort-merge join on the bucket key). Exact cosine
    re-ranks candidates; each vector keeps its best candidate and a
    near-dup flag at cosine ≥ 0.9. Vectors whose buckets yield no
    candidate surface with a NULL neighbor, so the output is always
    exactly one row per corpus vector (the rows-only driver invariant).

    Bucket width rises with corpus size (similarity.n_planes_for — 5
    planes at fixture scale, wider once per-table occupancy passes 125,
    a real rule since r12; target halved r14 from the measured
    width/recall/candidate table), and the table COUNT rises with
    width (similarity.n_tables_for, r14) so candidate recall for
    0.9-cosine pairs holds ≥0.98 at every width instead of decaying
    with the (1−(1−pʷ)¹⁶) curve; misses cost recall, not correctness
    of the flag. Exact-NN recall vs `embed_cosine_allpairs` is
    asserted in tests/test_northstar.py.

    FULLY oracle-checked despite being "approximate" (was rows-only
    through r3): the hyperplanes are a deterministic splitmix-style
    integer mix (similarity._plane_coeff), so the DuckDB oracle replays
    the whole pipeline exactly — bucket assignment, co-bucket candidate
    generation, cosine re-rank with the nn_id tie-break, and the NULL
    rows for bucket-less vectors. See q_sim_ann's docstring for the
    float-margin analysis; the recall gates in tests/test_northstar.py
    additionally pin approximation QUALITY, which no exact replay can.
    """
    from ..serialization import pickle_module_by_value
    from . import similarity
    from .similarity import (
        bucketed_all_tables,
        cosine_arrow,
        n_planes_for,
        n_tables_for,
    )

    # cosine_arrow ships to executor Python workers; by-value pickling
    # makes it importable-path-independent (same contract as
    # similarity's own pandas-UDF call sites)
    pickle_module_by_value(similarity.__name__)

    dim = 64  # embeddings fixture dimension (FIXTURES.md)
    from pyspark import StorageLevel

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # PERSIST the bucket assignment (landed r7, with the key in the
    # driver window): it feeds both self-join sides and the Pandas-UDF
    # lineage defeats exchange reuse, so unpersisted the Arrow matmul
    # runs once per subtree copy (14 parquet scans audited at r6 end).
    # (vec_id, tbl, bucket) rows only — the emb payload is dropped
    # before caching. Session-lifetime cache (_CACHE_OWNERSHIP note).
    # scale-adaptive code width: 5 planes (the oracle-replayed width)
    # at every fixture scale, widening with corpus size so the bucket
    # self-join below stays occupancy-bounded — the r12 sign-replica
    # probe measured the FIXED 2⁵ space quadratic (exponent 1.94,
    # 1261 s at 100×); see similarity.n_planes_for. Corpus size comes
    # from the parquet footer (catalog.table_rows) so constructing the
    # plan stays lazy — the former v.count() ran an eager scan per
    # construction (ADVICE r12). r14: the table COUNT also adapts
    # (similarity.n_tables_for) — at fixed 16 tables the banding
    # recall for 0.9-cosine pairs decays with the adaptive width
    # (0.996 at w=8 → 0.75 at w=16); growing tables at wide widths
    # holds candidate recall ≥0.98 at the class floor for a bounded
    # candidate budget T·target/2 per vector. 16 tables exactly
    # through width 9 (17/20 at widths 10/11) — every fixture scale
    # sits at the width-5 floor, so fixture plans and oracles are
    # unchanged.
    from ..catalog import table_rows

    n_planes = n_planes_for(table_rows(spark, sf_dir, "embeddings"))
    bucketed = (
        bucketed_all_tables(
            v, n_planes=n_planes, n_tables=n_tables_for(n_planes)
        )
        .drop("emb")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # candidate pairs: co-bucketed in ≥1 table, generated once (a < b)
    # then symmetrized so both endpoints see the pair. r15: the
    # self-join goes through similarity.salted_half_pairs — hot
    # (tbl, bucket) cells past 4× the occupancy target are salt-split
    # so a clustered corpus's mega-bucket cannot land its occ² pair
    # work on one reducer (VERDICT r14 item 3; lossless — identical
    # output at every scale, dormant s=1 at fixture occupancies).
    from .similarity import salted_half_pairs

    half = salted_half_pairs(bucketed).dropDuplicates(["doc_id", "nn_id"])
    # Score each UNORDERED pair once, then symmetrize the SCORED rows:
    # cosine is symmetric, and the scoring stage dominates the plan
    # (r7 per-stage profile: 29 s CPU of higher-order array math at
    # sf0.1) — symmetrizing the pair list BEFORE scoring, as through
    # r6, computed every cosine twice and doubled both embedding joins.
    # r10: the scorer is the Arrow-vectorized cosine_arrow — the
    # verify volume here is ALL candidate pairs (815k at sf0.1), where
    # the interpreted higher-order expression was the measured
    # bottleneck once the bench consumer stopped letting Catalyst
    # prune it (SCALE.md r10 "bench consumer fixed"; 3.6 -> 2.7 s
    # steady, 9.6 -> 3.4 s first-run, round-6-exact vs the expression).
    emb_a = v.select(F.col("vec_id").alias("doc_id"), F.col("emb").alias("ea"))
    emb_b = v.select(F.col("vec_id").alias("nn_id"), F.col("emb").alias("eb"))
    # persisted: the union below consumes it twice, and the cosine's
    # higher-order lineage defeats exchange reuse (same pattern as
    # every persist in this module) — without it each branch would
    # re-join and re-score, giving back the full 2x
    scored_half = (
        half.join(emb_a, "doc_id")
        .join(emb_b, "nn_id")
        .select(
            "doc_id", "nn_id", cosine_arrow(F.col("ea"), F.col("eb")).alias("sim")
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    scored = scored_half.unionByName(
        scored_half.select(
            F.col("nn_id").alias("doc_id"),
            F.col("doc_id").alias("nn_id"),
            "sim",
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("sim").desc(), F.col("nn_id"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "nn_id", "sim")
    )
    return (
        v.select(F.col("vec_id").alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "nn_id",
            F.round("sim", 6).alias("nn_cosine"),
            F.when(F.col("sim") >= 0.9, 1).otherwise(0).alias("is_near_dup"),
        )
    )


_INGEST_SPLIT = 80  # hash buckets < 80 = already-ingested corpus; rest = batch


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH bkt AS (
      SELECT doc_id, source, text,
             CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) % 100 AS b
      FROM documents
    )
    SELECT n.doc_id AS doc_id, n.source AS source,
           CAST(md5(n.text) NOT IN
                (SELECT md5(text) FROM bkt WHERE b < {_INGEST_SPLIT})
                AS INT) AS is_new
    FROM bkt n WHERE n.b >= {_INGEST_SPLIT}
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: flag which documents of a NEW batch are
    unseen vs the already-ingested corpus — the production dedup flow,
    where the corpus is 100 TB of history and each day's ingest is a
    sliver that must never force a full-corpus reshuffle. (The fixture
    stands in deterministic halves: content-hash buckets < {_INGEST_SPLIT}
    are "corpus", the rest are "the batch" — same split machinery as
    sampling.hash_bucket, so both engines carve identical sides.)

    Scale design: the corpus is represented by its FINGERPRINT INDEX —
    16-byte md5 per doc, maintained as a bucketed table
    (``bucketBy(fingerprint)``, the q_sink_bucketed layout) so the
    index side of the membership join needs NO exchange and NO sort on
    any ingest run; only the batch (the small side, repartitioned by
    fingerprint into matching buckets by the join itself) shuffles.
    Asserted in test_plans.py with broadcast disabled: the index scan
    feeds the SortMergeJoin with neither Exchange nor Sort on its side.
    Ingest then appends the batch's new fingerprints into the same
    bucketed layout, keeping the index join-ready for tomorrow's batch
    without ever rewriting history.
    """
    import os as _os
    import re as _re
    import tempfile as _tempfile

    d = load_table(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
        % 100
    )
    # index column named fp_idx (not fp) so plan tests can tell the two
    # sides of the membership join apart in Exchange nodes
    corpus_fp = (
        d.filter(b < _INGEST_SPLIT)
        .select(F.md5("text").alias("fp_idx"))
        .distinct()
    )
    sfx = _re.sub(r"[^0-9a-zA-Z]", "_", _os.path.basename(sf_dir))
    name = f"aub_fp_index_{sfx}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = _tempfile.mkdtemp(prefix="aub_fp_index_")
    (
        corpus_fp.write.bucketBy(8, "fp_idx")
        .sortBy("fp_idx")
        .option("path", _os.path.join(wh, "fp"))
        .mode("overwrite")
        .saveAsTable(name)
    )
    index = spark.table(name)
    batch = d.filter(b >= _INGEST_SPLIT).select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    return (
        batch.join(index, batch.fp == index.fp_idx, "left")
        .select(
            "doc_id",
            "source",
            F.col("fp_idx").isNull().cast("int").alias("is_new"),
        )
    )


# --- Exact duplicated-substring detection -----------------------------------

_SUBSTR_K = 8  # shingle width in words (production: ~50 BPE tokens)


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             md5(array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' ')) AS h
      FROM w, LATERAL (
        SELECT unnest(range(1, len(toks) - {_SUBSTR_K} + 2)) AS i
      ) r
    ),
    docfreq AS (
      SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
    ),
    per_doc AS (
      SELECT sh.doc_id, COUNT(*) AS n_shingles,
             SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
      FROM sh LEFT JOIN docfreq d ON sh.h = d.h
      GROUP BY sh.doc_id
    )
    SELECT doc.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup_shingles,
           ROUND(CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN 0.0
                      ELSE COALESCE(p.n_dup, 0) * 1.0 / p.n_shingles
                 END, 6) AS dup_span_frac,
           CAST(CASE WHEN COALESCE(p.n_dup, 0) > 0 THEN 1 ELSE 0 END
                AS INT) AS has_dup_span
    FROM documents doc LEFT JOIN per_doc p ON doc.doc_id = p.doc_id
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN detection: which parts of which documents
    are verbatim repeats of text elsewhere in the corpus.

    The dup class document-level dedup misses entirely: two documents
    sharing one long boilerplate paragraph (license header, nav bar,
    syndicated quote) are distinct as wholes — exact hash, MinHash and
    SimHash all keep both — yet a training pipeline wants the repeated
    span found and (usually) cut, because verbatim repeats induce
    memorization (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — their ExactSubstr dedup). Their
    single-node suffix array does not distribute; the standard
    cluster-scale equivalent implemented here is fixed-width shingle
    postings: every {_SUBSTR_K}-word window is hashed, and a window
    whose hash occurs in ≥2 distinct documents is a duplicated span
    (any shared substring of ≥ {_SUBSTR_K} words contains such a
    window, so detection at granularity {_SUBSTR_K} is exhaustive —
    boundaries are found within {_SUBSTR_K}-1 words).

    Output: one row per document with its shingle count, duplicated-
    shingle count, duplicated fraction and a flag — the per-document
    signal a curation pipeline thresholds on.

    Scale shape: a map-side explode into (doc_id, 16-byte md5) postings;
    one groupBy h (partial-agg'd distinct-doc count — the HAVING > 1
    set is the only state); one equi-join back on h; one groupBy doc_id.
    The shuffle carries hashes, never text. At 100 TB the >1-doc hash
    set is a small fraction of postings and can additionally be bloom-
    broadcast to prune the join's probe side; the shingle width trades
    index size (n_words postings regardless of k) against boundary
    resolution, exactly as in the paper.
    """
    return substring_dup_stats(load_table(spark, sf_dir, "documents"))


def substring_dup_stats(
    d: DataFrame, k: int = _SUBSTR_K
) -> DataFrame:
    """Core duplicated-span statistics over any (doc_id, text)
    DataFrame — separated from the registered query so property tests
    can drive it with adversarial constructed corpora (exact copies,
    embedded spans, sub-shingle-width docs)."""
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    nt = F.size(toks)
    hashes = F.when(
        nt >= k,
        F.transform(
            F.sequence(F.lit(1), nt - k + 1),
            lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.explode(hashes).alias("h"))
    docfreq = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h", F.lit(1).alias("is_dup"))
    )
    per_doc = (
        sh.join(docfreq, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("is_dup", F.lit(0))).alias("n_dup"),
        )
    )
    n_sh = F.coalesce("n_shingles", F.lit(0)).cast("bigint")
    n_dup = F.coalesce("n_dup", F.lit(0)).cast("bigint")
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            n_sh.alias("n_shingles"),
            n_dup.alias("n_dup_shingles"),
            F.round(
                F.when(n_sh == 0, F.lit(0.0)).otherwise(
                    F.col("n_dup") / F.col("n_shingles")
                ),
                6,
            ).alias("dup_span_frac"),
            (n_dup > 0).cast("int").alias("has_dup_span"),
        )
    )


# --- Semantic dedup (SemDeDup) ----------------------------------------------

_SEM_K = 16  # coarse-cluster floor — the exact count at fixture scale;
# the corpus-adaptive count is similarity.ivf_cells_for (r14: "SemDeDup
# scales k with corpus size" was a comment for two rounds — now it is
# the same enforced √(n/8) rule the IVF quantizer uses, which turns the
# within-cell pair scan from Θ(n²/16) into Θ(n^1.5)).
# COUPLING: the static oracle below hard-codes LIMIT _SEM_K while the
# served query's floor is similarity._IVF_K inside ivf_cells_for — the
# two must stay equal (asserted in tests/test_northstar.py's geometry
# test); retune the floor in ONE place by changing both together.
_SEM_TAU = 0.35  # within-cluster cosine threshold (fixture-calibrated)


@query(
    "q_dedup_semantic",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    centroids AS (
      SELECT vec_id AS cell, emb AS cemb FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_SEM_K}
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
    qual AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a
      JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN v x ON x.vec_id = a.vec_id
      JOIN v y ON y.vec_id = b.vec_id
      WHERE list_dot_product(x.emb, y.emb) /
              (sqrt(list_dot_product(x.emb, x.emb)) *
               sqrt(list_dot_product(y.emb, y.emb))) >= {_SEM_TAU}
    ),
    drops AS (
      SELECT id_b AS vec_id, MIN(id_a) AS dup_of FROM qual GROUP BY id_b
    )
    SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
           CAST(CASE WHEN d.dup_of IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS is_semantic_dup,
           CAST(d.dup_of AS BIGINT) AS dup_of
    FROM assigned a LEFT JOIN drops d ON d.vec_id = a.vec_id
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup, Abbas et al. 2023): drop documents whose
    EMBEDDINGS are near-identical within a coarse cluster — paraphrases,
    re-renderings and template variants that no lexical dedup (hash,
    MinHash, SimHash, substring) can see, because the surface strings
    differ while the meaning does not.

    Pipeline, exactly the paper's shape: (1) coarse-cluster the
    embedding space — here the same deterministic md5-sampled {_SEM_K}
    centroids as q_sim_ivf (swap in k-means at will; routing identical);
    (2) WITHIN each cluster only, compare all member pairs by cosine;
    (3) in every group of pairwise-similar members (cosine ≥ τ =
    {_SEM_TAU}) keep one representative. Keeper rule is deterministic
    min-vec_id (the house rule of every dedup op here); each dropped
    vector reports its keeper as dup_of.

    Clustering is what makes the quadratic step tractable: pairwise
    work is Σ|cluster|² not n² — and since r14 "k grows with the
    corpus" is an enforced rule, not prose: k = ivf_cells_for(n)
    (⌈√(n/8)⌉, floor 16 — SemDeDup uses k ≈ 10⁵ on LAION, this rule
    gives 10⁵ at n ≈ 8·10¹⁰), so cells stay executor-sized and the
    within-cell volume is Θ(n^1.5), not Θ(n²/16). The member
    self-join is an equi hash join on the cell id, and the corpus is
    never cross-joined. The broadcast in the assignment step is the
    k×dim centroid table only.

    FULLY oracle-checked like q_sim_ivf: sampled centroids make the
    whole pipeline a pure function the DuckDB oracle replays — centroid
    pick, (dist², cell)-tie-broken assignment, within-cell pair scan,
    τ-threshold and min-id keeper. Cross-engine float safety: measured
    min |cosine − τ| margin on the fixtures is 7.1e-5 (sf0.01) /
    1.6e-5 (sf0.1), and min rank-1→2 assignment gap 1.7e-4 / 3.6e-6 —
    ≥8 orders above the ~2e-14 reordering error of a 64-term double
    sum (tests/test_northstar.py re-checks on the current fixture).
    """
    from .similarity import (
        _matmul_routing_enabled,
        _route_cells_matmul,
        _sq_dist,
        cosine,
        ivf_cells_for,
    )
    from ..catalog import table_rows

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    # corpus-adaptive cluster count (r14): exactly _SEM_K = 16 at every
    # fixture scale (the static oracle's LIMIT-16 sample replays),
    # ⌈√(n/8)⌉ above — the enforced form of the paper's "k grows so
    # clusters stay executor-sized". Footer count keeps construction
    # lazy.
    k_cells = ivf_cells_for(table_rows(spark, sf_dir, "embeddings"))
    centroids = (
        v.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(k_cells)
        .select(F.col("vec_id").alias("cell"), F.col("emb").alias("centroid"))
    )
    if _matmul_routing_enabled(spark):
        # same Arrow-matmul route as q_sim_ivf (default ON since r6;
        # equality vs the fold test-pinned in test_northstar.py)
        assigned = _route_cells_matmul(v, centroids, 1).select(
            "vec_id", "cell"
        )
    else:
        dist = v.crossJoin(F.broadcast(centroids)).select(
            "vec_id",
            "cell",
            _sq_dist(F.col("emb"), F.col("centroid")).alias("dist2"),
        )
        assigned = dist.groupBy("vec_id").agg(
            F.min_by("cell", F.struct("dist2", "cell")).alias("cell")
        )
    # PERSIST the assignment: it feeds BOTH sides of the within-cell
    # member self-join below, and its lineage is a full-corpus routing
    # pass (Arrow UDF or 64-term folds) that Spark cannot deduplicate
    # across the two sides (see prefix_filtered_jaccard_join on why
    # reuse never fires). 16 B/row — the cluster-assignment table a
    # production SemDeDup run writes to storage anyway.
    from pyspark import StorageLevel

    assigned = assigned.persist(StorageLevel.MEMORY_AND_DISK)
    member = assigned.join(v, "vec_id")
    a = member.select(
        "cell", F.col("vec_id").alias("id_a"), F.col("emb").alias("ea")
    )
    b = member.select(
        "cell", F.col("vec_id").alias("id_b"), F.col("emb").alias("eb")
    )
    qual = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine(F.col("ea"), F.col("eb")) >= _SEM_TAU)
        .select("id_a", "id_b")
    )
    drops = (
        qual.groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
        .withColumnRenamed("id_b", "vec_id")
    )
    return (
        assigned.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.col("dup_of").isNotNull().cast("int").alias("is_semantic_dup"),
            F.col("dup_of").cast("bigint").alias("dup_of"),
        )
    )


# --- character-level near-dup: bounded edit distance --------------------

_ED_D = 10  # max edit distance (fixture margin: true band ends at 8,
#             next-nearest pair sits at 38 — see q_dedup_editdist)
_ED_Q = 8  # q-gram width for the lossless candidate filter


@query(
    "q_dedup_editdist",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) = strlen(text)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= {_ED_D}
    WHERE levenshtein(a.text, b.text) <= {_ED_D}
    """,
)
def q_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup join: every document pair within
    Levenshtein edit distance ≤ _ED_D — the record-linkage complement of
    the token-set family (q_dedup_ngram_jaccard sees word overlap;
    this sees single-character typos, OCR noise and byte-level edits
    that leave the token multiset almost intact).

    Candidate generation is a lossless q-gram prefix filter in the
    Gravano (VLDB'01) family, tightened r8 with Ed-Join's
    location-based shortening (Xiao/Wang/Lin, VLDB'08): instead of the
    classic D·q+1 rarest grams (which assumes every edit destroys q of
    them), each doc's prefix is the SHORTEST rarity-ordered gram list
    whose min-positions need more than D length-q interval edits to
    cover (greedy cover, a per-doc JVM lambda capped by the classic
    bound). Any pair within distance D must share a prefix gram — the
    case analysis (valid↔valid, valid↔short, short↔short) is proved in
    qgram_blocked_editdist_join. Docs whose FULL gram set is coverable
    with ≤ D edits get no guarantee from prefixes and fall back to a
    length-binned equi self-join among themselves (adjacent-bin trick
    of q_join_range_binned — no BNLJ). Survivors verify with the JVM
    banded ``levenshtein(a, b, threshold)`` — O(len·D), not O(len²)
    per pair.

    Fixture margin: at sf0.01 the corpus has 24 pairs at distance 4 and
    1 at 8, then NOTHING until 38 — the threshold 10 sits mid-gap, so
    no boundary pair can flip between engines. The oracle is the plain
    all-pairs join (blocking is lossless, so DuckDB needs none).

    Engine-parity guard: BOTH sides restrict to byte-clean documents
    (char length == byte length, i.e. ASCII) before joining — a no-op
    on every fixture to date (tripwired in tests/test_catalog_fixture)
    but load-bearing if a regenerated fixture ever carries non-ASCII:
    DuckDB's ``levenshtein`` is BYTE-based while Spark's is
    codepoint-based, so the two agree only on this subset. For a real
    multilingual corpus, run the Spark side unfiltered (codepoint
    distance is the semantically right one) and drop the DuckDB
    cross-check or byte-project both engines.

    100 TB notes: the gram-frequency dictionary scales with corpus
    vocabulary → joined unhinted (AQE picks the strategy; do NOT
    broadcast it blindly — char-gram vocabularies are far larger than
    word vocabularies). Candidate volume concentrates on rare grams,
    which is the point of the frequency ordering, and the location
    filter shortens prefixes further the more spread a doc's rare
    grams are. The short-doc fallback is quadratic ONLY within docs
    whose whole gram set is edit-coverable (roughly shorter than
    ~(D+1)·q chars) — a min-length corpus policy (every curation
    pipeline has one) bounds it; for a genuinely short-text corpus,
    shrink q so the guarantee covers the length floor. Sparse-replica
    exponent 0.79 at 50 k docs (SCALE.md r8; was 0.98 pre-shortening).
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") == F.octet_length("text")
    )
    return qgram_blocked_editdist_join(d)


def qgram_blocked_editdist_join(
    docs: DataFrame, max_dist: int = _ED_D, q: int = _ED_Q
) -> DataFrame:
    """Core q-gram-blocked edit-distance join over any (doc_id, text)
    DataFrame — separated from the fixture loader so property tests can
    drive it with adversarial corpora (see q_dedup_editdist for the
    losslessness argument)."""
    p = max_dist * q + 1  # classic bound: D·q + 1 rarest distinct grams
    base = docs.select(
        "doc_id", "text", F.length("text").alias("ln")
    )
    # The gram build below is compute-heavy per doc (gram hashing +
    # sort + location-aware prefix), and a small single-file corpus
    # arrives as ONE input partition — which would serialize all of it
    # on one core. Spread it only when the scan's parallelism is
    # actually low: on a real multi-split 100 TB scan this is a no-op
    # (no shuffle added). Only the GRAM-BUILD input is repartitioned —
    # the ta/tb verify legs below read `base` directly, so they keep
    # the cheap unshuffled scan (review r8: repartitioning `docs`
    # itself added two full-corpus text exchanges feeding what AQE
    # immediately broadcast anyway).
    par = docs.sparkSession.sparkContext.defaultParallelism
    gram_in = (
        base.repartition(par, "doc_id")
        if docs.rdd.getNumPartitions() < par
        else base
    )
    # positional q-grams → distinct gram set per doc WITH the min
    # position each gram first occurs at (the location-aware prefix
    # below needs it). substring() takes only literal positions, so the
    # gram array is built with a higher-order transform over
    # sequence(1, ln−q+1). Grams are immediately collapsed to xxhash64
    # — every downstream exchange (frequency agg, rarity-order rebuild,
    # prefix self-join) compares and sorts 8-byte longs instead of
    # q-char strings (measured 1.5× end-to-end in r5). Lossless: the
    # prefix-filter theorem needs any global total order on set
    # elements, and hashing only MERGES elements (a collision makes
    # two grams one element with the min of their positions — harder
    # to destroy, so intersections grow and the computed edit lower
    # bound only drops — extra candidates at worst, removed by the
    # exact levenshtein verify).
    # distinct (gram, min-position) per doc computed MAP-SIDE: sort the
    # positional gram structs (lexicographic (g, mp) → each gram run
    # leads with its min position) and keep each run's head — no
    # shuffle, unlike a posexplode + groupBy(doc, g) dedup (measured
    # +3.4 s at sf0.1 for the shuffle variant).
    dg = (
        gram_in.withColumn(
            "sgp",
            F.expr(
                f"array_sort(transform("
                f"sequence(1, greatest(1, ln - {q} + 1)),"
                f" i -> named_struct("
                f"'g', xxhash64(substring(text, i, {q})),"
                f" 'mp', CAST(i - 1 AS INT))))"
            ),
        )
        .select(
            "doc_id",
            "ln",
            F.explode(
                # lambda index i is 0-based; element_at is 1-based, so
                # element_at(sgp, i) is the PREVIOUS element
                F.expr(
                    "filter(sgp, (x, i) -> "
                    "i = 0 OR x.g != element_at(sgp, i).g)"
                )
            ).alias("gm"),
        )
        .select(
            "doc_id",
            "ln",
            F.col("gm.g").alias("g"),
            F.col("gm.mp").alias("mp"),
        )
    )
    # global document frequency per gram — the rarity order. NOT
    # broadcast: char-gram vocabularies scale with the corpus.
    freq = dg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    from pyspark import StorageLevel

    ordered = (
        dg.join(freq, "g")
        .groupBy("doc_id", "ln")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "g", "mp"))
            ).alias("gf")
        )
    )
    # Location-aware prefix shortening (Ed-Join, Xiao/Wang/Lin VLDB'08
    # — "location-based mismatch filtering"): the classic prefix takes
    # the D·q+1 rarest grams, pessimistically assuming every edit
    # destroys q of them. But an edit at char position c only destroys
    # grams STARTING in [c−q+1, c], so the true number of edits needed
    # to destroy a gram set is the greedy length-q interval cover of
    # their positions. Per doc: walk the rarity order accumulating
    # min-positions until that cover exceeds D — that (usually much
    # shorter) prefix already guarantees any within-D partner shares a
    # gram with it. Using each gram's MIN position keeps it lossless
    # (destroying a gram must cover ALL its occurrences, in particular
    # the first — the computed cover is a lower bound on edits), and
    # the classic bound caps the scan: at i = D·q+1 grams the cover
    # provably exceeds D (distinct grams have distinct start
    # positions; one length-q interval covers ≤ q of them), so `covs`
    # is evaluated on at most D·q+1 slices — O((D·q)² log) per doc,
    # map-only. Docs whose FULL gram set has cover ≤ D get no valid
    # prefix: they emit their whole gram list into the join (the
    # valid↔short case is then caught through the VALID side's prefix
    # guarantee) and additionally pair among themselves via the
    # length-binned fallback below (short↔short may share no gram at
    # all). Measured on the sf0.1 fixture: prefix avg 13.6 grams (was
    # a flat 41), candidates 292k → 217k — modest HERE because the
    # fixture's 985-gram vocabulary makes similar docs share their
    # rarest grams; on a real corpus (large gram vocabulary, rare
    # grams actually rare) the shortening compounds with rarity and
    # the candidate cut is the dominant verify-cost lever (Ed-Join's
    # published result).
    covs_sql = (
        f"transform(sequence(1, least(size(gf), {p})), i -> "
        f"aggregate(array_sort(transform(slice(gf, 1, i), s -> s.mp)), "
        f"named_struct('cnt', 0, 'last', {-q}), "
        f"(acc, pp) -> IF(pp > acc.last, "
        f"named_struct('cnt', acc.cnt + 1, 'last', pp + {q} - 1), "
        f"acc), acc -> acc.cnt))"
    )
    # PERSIST the slim per-doc prefix relation (the r7 persist moved
    # here in r8 — this is now the shared subtree: it feeds BOTH sides
    # of the prefix self-join and the short-doc fallback, and the
    # lambda-bearing lineage defeats Spark's exchange reuse, see
    # prefix_filtered_jaccard_join). covs/plen are computed exactly
    # once per doc inside this one projection; only the sliced prefix
    # array + the fallback flag survive into the cache (gf and covs
    # are dropped — a few dozen longs per doc). MEMORY_AND_DISK:
    # spills rather than OOMs; cache ownership is session-lifetime by
    # design (_CACHE_OWNERSHIP note at module top).
    withpre = (
        ordered.withColumn("covs", F.expr(covs_sql))
        .withColumn(
            # covs is nondecreasing (adding a position can't shrink
            # the cover), so the first index with cover > D is
            # count(<=D)+1; if all entries are <= D the doc has no
            # valid prefix and plen caps at the full list size
            "plen",
            F.least(
                F.size(F.expr(f"filter(covs, c -> c <= {max_dist})"))
                + F.lit(1),
                F.size("gf"),
            ),
        )
        .select(
            "doc_id",
            "ln",
            F.expr("slice(transform(gf, s -> s.g), 1, plen)").alias(
                "pre"
            ),
            (F.element_at("covs", -1) <= F.lit(max_dist)).alias(
                "is_short"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prefixes = withpre.select(
        "doc_id", "ln", F.explode("pre").alias("g")
    )
    cand = (
        prefixes.alias("pa")
        .join(
            prefixes.alias("pb"),
            (F.col("pa.g") == F.col("pb.g"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (
                F.abs(F.col("pa.ln") - F.col("pb.ln"))
                <= F.lit(max_dist)
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
    )
    # Short-doc fallback: a doc whose FULL gram set has position cover
    # ≤ D can be edit-stripped of every gram, so the prefix guarantee
    # gives it nothing against another such doc — those pairs self-join
    # via adjacent length bins (equi join on the bin, exact length
    # re-check — never a BNLJ). Bin width = max_dist, so a qualifying
    # pair is at most one bin apart. (valid↔short pairs are already
    # caught by the prefix join through the valid side's guarantee.)
    short = withpre.filter("is_short").select(
        "doc_id", "ln", F.floor(F.col("ln") / F.lit(max_dist)).alias("b")
    )
    s_l = short.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ln").alias("la"),
        F.col("b").alias("bin"),
    )
    s_r = short.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ln").alias("lb"),
        F.explode(
            F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)
        ).alias("bin"),
    )
    fb = (
        s_l.join(s_r, "bin")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= F.lit(max_dist))
        )
        .select("doc_a", "doc_b")
    )
    pairs = cand.union(fb).dropDuplicates(["doc_a", "doc_b"])
    # Verification: banded levenshtein with a threshold — O(len·D) per
    # pair and early-exit, vs O(len²) unbounded; returns −1 past the
    # band, so the filter is a null-free integer test.
    ta = base.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    tb = base.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    ed = F.levenshtein("ta", "tb", threshold=max_dist)
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", ed.alias("edit_dist"))
        .filter(F.col("edit_dist") >= 0)
        .select(
            "doc_a", "doc_b", F.col("edit_dist").cast("int").alias("edit_dist")
        )
    )
