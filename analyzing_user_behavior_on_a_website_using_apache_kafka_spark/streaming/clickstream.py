"""Reference-native clickstream pipeline parity (FIXTURES.md §B).

Reproduces the reference's end-to-end semantics on its own data shape:

    clicks ⋈ users  →  unpivot to (topic, value) messages   (serwer.js:84-118)
    →  per-(topic, value) histogram                         (Raport.py:76-88)
    →  overall clicks per service                           (Raport.py:144-148)
    →  per-(service, dimension) histograms + share          (Raport.py:176-193)

all as one declarative plan: the reference's nested loops over
{age, city, gender} collapse into a single groupBy (SURVEY §2.1 R18),
and `home` filtering matches serwer.js:72-76 / Raport.py:169-170.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

DIMENSIONS = ("age", "city", "gender", "clicks")


def _in_memory(df: DataFrame) -> bool:
    """Is ``df`` immutable in-memory data: does every leaf of its analyzed
    plan hold rows the driver handed over (``LogicalRDD``,
    ``LocalRelation``) rather than read a table or files?"""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return all(
        leaves.apply(i).nodeName() in ("LogicalRDD", "LocalRelation")
        for i in range(leaves.size())
    )


def fan_out_messages(clicks: DataFrame, users: DataFrame) -> DataFrame:
    """clicks(user_id, service[, ts]) ⋈ users → (topic, value) messages.

    The reference's produce-time enrichment + 4-way unpivot
    (app.py:79-88 + serwer.js:84-118): one click becomes 4 messages
    `{service}_{age|city|gender|clicks}` with stringly values ('1' for
    clicks). `home` clicks are dropped at ingest (serwer.js:72-76).
    Broadcast join: users is the small dimension side.

    A streaming ``clicks`` re-plans the users side and re-broadcasts it
    every epoch. When that side is immutable in-memory data (every leaf
    of its plan is a ``LogicalRDD`` or ``LocalRelation``, e.g. from
    ``createDataFrame``), it is materialized once, lazily on the first
    epoch, as one locally checkpointed partition: later epochs read
    that copy in the JVM instead of re-running a Python job. The stream
    therefore joins a snapshot of those users. A users table backed by
    JDBC or files is re-read every epoch, so users registered after the
    stream started are joined too. The local checkpoint lives in the
    executors' block managers; losing an executor loses it.
    """
    side = users.select("user_id", "age", "city", "gender")
    if clicks.isStreaming and _in_memory(side):
        side = side.coalesce(1).localCheckpoint(eager=False)
    enriched = clicks.filter(F.col("service") != "home").join(
        F.broadcast(side), "user_id"
    )
    stacked = enriched.select(
        "service",
        F.expr(
            "stack(4, 'age', CAST(age AS STRING), 'city', city, "
            "'gender', gender, 'clicks', '1') AS (dimension, value)"
        ),
    )
    return stacked.select(
        F.concat_ws("_", "service", "dimension").alias("topic"),
        "value",
    )


def topic_histograms(messages: DataFrame) -> DataFrame:
    """per-(topic, value) counts — Raport.py:76-88 (R12)."""
    return messages.groupBy("topic", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def overall_clicks(histograms: DataFrame) -> DataFrame:
    """Total clicks per service: the `endswith('_clicks')` → split →
    SUM re-aggregation of Raport.py:144-148 (R13+R14+R15)."""
    return (
        histograms.filter(F.col("topic").endswith("_clicks"))
        .select(
            F.substring_index("topic", "_", 1).alias("service"),
            "cnt",
        )
        .groupBy("service")
        .agg(F.sum("cnt").alias("total_clicks"))
    )


def dimension_histograms(histograms: DataFrame) -> DataFrame:
    """per-(service, dimension ∈ {age,city,gender}) value histograms with
    share-of-total — Raport.py:176-193 (R18+R20), `home` excluded
    (R17). One pass; the share window runs over the tiny aggregate."""
    parsed = histograms.select(
        F.substring_index("topic", "_", 1).alias("service"),
        F.substring_index("topic", "_", -1).alias("dimension"),
        "value",
        "cnt",
    ).filter(
        (F.col("service") != "home") & (F.col("dimension") != "clicks")
    )
    w = W.partitionBy("service", "dimension")
    return parsed.select(
        "service",
        "dimension",
        "value",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(w), 6).alias("share"),
        F.format_string("%s (%d)", "value", "cnt").alias("label"),
    )
