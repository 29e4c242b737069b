"""Robots.txt state: cached rules table + broadcast disallow gate.

The reference has NO robots handling (SURVEY §2.10 — closest is the
UA string, config.json:15); this is new engine state required by the
target (BASELINE.json:6 "robots.txt caching ... broadcast of the
robots/politeness state"). Because it is additive, the engine keeps
it OFF for reference-equality runs (EngineConfig.respect_robots) and
the oracle applies the same gate when enabled, so ordering equality
is preserved in both modes.

Design: ``robots(host, disallow: array<string>, crawl_delay: double,
fetched_epoch: int)`` is a SMALL table (one row per host — even at
10^10 URLs, hosts number ~10^7) → always broadcast to the scheduling
join. ``crawl_delay`` overrides the global politeness delay per host
(min tokens 1). Refresh bookkeeping: rows carry fetched_epoch; a
refresh appends newer rows and the gate reads the latest row per host,
the same epoch-append + latest-per-host pattern as A1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay", T.DoubleType()),
        T.StructField("fetched_epoch", T.IntegerType()),
    ]
)


def latest_robots(robots: DataFrame) -> DataFrame:
    """Latest-per-host cache view (refresh = newer fetched_epoch wins)."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(F.desc("fetched_epoch"))
    return (
        robots.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_robots_gate(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Split frontier into (allowed, blocked) by disallow-prefix match
    on the URL path. The robots side is broadcast (small by
    construction); the gate is a single broadcast hash join + an
    array-exists predicate — no shuffle of the frontier.

    Returns the frontier with two added columns:
    ``robots_blocked: boolean`` and ``crawl_delay: double`` (null
    where no robots row exists — caller falls back to the global
    politeness delay)."""
    path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
    joined = frontier.join(F.broadcast(latest_robots(robots)), "host", "left")
    blocked = F.exists(
        F.coalesce(F.col("disallow"), F.array().cast("array<string>")),
        lambda p: path.startswith(p),
    )
    return joined.withColumn("robots_blocked", F.coalesce(blocked, F.lit(False))).drop(
        "disallow", "fetched_epoch"
    )


def host_budget_col(epoch_seconds: float, delay: Column) -> Column:
    """Token-bucket capacity per host honoring robots crawl_delay:
    max(1, floor(epoch_seconds / delay))."""
    return F.greatest(F.floor(F.lit(epoch_seconds) / delay), F.lit(1)).cast("int")
