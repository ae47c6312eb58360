"""Measure the aggregate resident set of the session-lifetime persists.

The ``_CACHE_OWNERSHIP`` contract (``functions/dedup.py`` header) claims
every ``persist(MEMORY_AND_DISK)`` relation is a SLIM projection — ids +
hashes, never document text or embeddings — so the whole-session cache
footprint is O(corpus keys), spilling rather than evicting.  VERDICT r9
item 6: nothing measured that across a full sweep.  This tool does: it
runs every persisting query key in ONE session at the given sf_dir,
materializes each (count action), then sums the JVM BlockManager's
per-RDD storage info.

Usage:  python tools/cache_pressure.py [sf_dir]
Prints one JSON line: total/mem/disk bytes, per-RDD breakdown, and
bytes-per-document-row (the slimness ratio the contract implies).

The pytest wrapper (tests/test_plans.py::test_session_cache_stays_slim)
asserts the budget so the claim is a check, not a docstring.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Every registered key whose served plan owns >= 1 session-lifetime
# persist (the _CACHE_OWNERSHIP census; grep `persist(StorageLevel` in
# the package to re-derive).  A new persisting key belongs HERE plus in
# session.evict_caches if it adds a memo dict.
PERSISTING_KEYS: tuple[str, ...] = (
    "q_dedup_near",            # minhash signatures
    "q_dedup_ngram_jaccard",   # jaccard prefix postings (+ _PAIR_CACHE)
    "q_dedup_containment",     # containment ordered tokens
    "q_dedup_editdist",        # location-prefix postings
    "q_dedup_simhash",         # simhash fingerprints
    "q_dedup_embed_cosine",    # LSH buckets + scored half-pairs
    "q_dedup_semantic",        # centroid assignment
    "q_dedup_clusters",        # verified-pair memo (_PAIR_CACHE)
    "q_time_rollup",           # O(hours×types) hourly base memo
    "q_time_interpolate",      # same hourly base (shared memo entry)
    "q_sim_timeseries",        # O(users×24) profile memo
    "q_sample_temperature",    # O(languages) count relation
    "q_sample_stratified",     # rates + thinned (memoized r10)
)
# NOT listed: q_dedup_incremental — its already-ingested index is a
# bucketed+sorted saved TABLE (disk layout, not BlockManager cache),
# so it owns no storage entries (r10 census confirmed).

# Keys that pin rows via localCheckpoint() BY DESIGN (correctness, not
# reuse): their blocks live outside the SQL cache, so
# spark.catalog.clearCache()/evict_caches does NOT drop them — the
# ContextCleaner reclaims them when the lineage is GC'd.  Bounded
# (O(one partition of nation) for the upsert; O(edges) per CC round,
# dropped as rounds supersede), so the survival is a classification
# fact for the census, not a leak to fix: an UNLISTED key leaking past
# evict_caches is the real bug the census exists to catch.
LOCALCHECKPOINT_KEYS: tuple[str, ...] = (
    "q_sink_upsert",   # pins pre-overwrite rows (scans.py: keep)
    "q_dedup_clusters",  # per-round CC edge checkpoint (dedup.py)
)


def _materialize(df) -> None:
    """Run the query computing EVERY output column — .count() is the
    wrong consumer here: Catalyst eliminates a left-outer join under a
    count when the right side's join keys are distinct and no right
    column survives pruning, and a persisted relation on that side then
    vanishes from the census although the driver's collect() does
    execute it.  hash(*) over all columns defeats the pruning at a
    one-row result cost."""
    from pyspark.sql import functions as F

    df.select(
        F.sum(F.hash(*[F.col(c) for c in df.columns]))
    ).collect()


def measure(spark, sf_dir: str) -> dict:
    """Evict, run every persisting key to completion, and report the
    aggregate BlockManager residency."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
        evict_caches,
    )

    evict_caches(spark)
    qs = registry.all_queries()
    for k in PERSISTING_KEYS:
        _materialize(qs[k](spark, sf_dir))

    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    rdds = [
        {
            "name": (i.name() or "").strip(),
            "mem_bytes": i.memSize(),
            "disk_bytes": i.diskSize(),
            "partitions": i.numCachedPartitions(),
        }
        for i in infos
    ]
    import duckdb

    n_docs = duckdb.connect().execute(
        f"SELECT count(*) FROM '{os.path.join(sf_dir, 'documents.parquet')}'"
    ).fetchone()[0]
    mem = sum(r["mem_bytes"] for r in rdds)
    disk = sum(r["disk_bytes"] for r in rdds)
    return {
        "sf_dir": sf_dir,
        "n_keys": len(PERSISTING_KEYS),
        "n_cached_rdds": len(rdds),
        "mem_bytes": mem,
        "disk_bytes": disk,
        "total_bytes": mem + disk,
        "n_documents": n_docs,
        "bytes_per_doc": round((mem + disk) / max(n_docs, 1), 1),
        "rdds": sorted(rdds, key=lambda r: -r["mem_bytes"])[:10],
    }


def census(spark, sf_dir: str) -> dict:
    """Discover which registered batch keys actually leave persistent
    RDDs, vs the declared PERSISTING_KEYS — the drift guard for when a
    future round adds a persist without updating this census (or
    session.evict_caches).

    Attribution is by RDD-id DIFF around each key, not by "storage
    non-empty after the key": blocks a previous key leaked past
    evict_caches would otherwise be attributed to every later key (the
    first cut of this census did exactly that and reported 17 false
    positives).  Keys whose blocks SURVIVE the following evict_caches
    are reported separately as leaks — an eviction gap that would break
    bench.py's cold-rep contract.

    Run at sf0.1, not sf0.001: conditional subtrees can be pruned
    empty at tiny SF (q_dedup_simhash's ground-truth side has no
    identical-token pairs at sf0.001, so AQE never materializes the
    signature cache) and the census under-counts."""
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark import (
        registry,
    )
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
        evict_caches,
    )

    def storage_ids() -> set[int]:
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    actual, leaks = [], []
    evict_caches(spark)
    for name, fn in registry.all_queries().items():
        if name.startswith("q_stream_"):
            continue  # streaming state lives in the state store, not caches
        before = storage_ids()
        _materialize(fn(spark, sf_dir))
        new = storage_ids() - before
        if new:
            actual.append(name)
        evict_caches(spark)
        leaked = storage_ids() & new
        if leaked:
            leaks.append(name)
    declared = set(PERSISTING_KEYS)
    return {
        "persisting_keys_found": sorted(actual),
        # localCheckpoint keys store blocks too, but by design and
        # outside the cache contract — classified via evict_leaks
        "undeclared": sorted(
            set(actual) - declared - set(LOCALCHECKPOINT_KEYS)
        ),
        "declared_but_not_persisting": sorted(declared - set(actual)),
        "evict_leaks": sorted(leaks),
        "unexpected_leaks": sorted(set(leaks) - set(LOCALCHECKPOINT_KEYS)),
    }


def main() -> int:
    from analyzing_user_behavior_on_a_website_using_apache_kafka_spark.session import (
        get_spark,
    )

    args = [a for a in sys.argv[1:] if a != "--census"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    spark = get_spark("cache_pressure", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    spark.sparkContext.setLogLevel("ERROR")
    if "--census" in sys.argv[1:]:
        rep = census(spark, sf_dir)
        print(json.dumps(rep))
        drift = (
            rep["undeclared"]
            or rep["declared_but_not_persisting"]
            or rep["unexpected_leaks"]
        )
        return 1 if drift else 0
    rep = measure(spark, sf_dir)
    print(json.dumps(rep))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
