"""Scale-adaptive input widening for compute-heavy per-row stages.

Problem (guide §2.2/§6): a parquet scan's effective parallelism is
bounded by its row-group layout — a single-row-group file executes as
ONE task no matter how many cores (or split-size configs) exist, so an
expensive projection/explode over it runs serially. At 100 TB inputs
carry thousands of row groups and this is a non-issue; small/medium
inputs written as one row group (exactly the driver's testdata shape)
serialize the most expensive stages of the pipeline.

``widen_narrow_scan`` is the adaptive fix: repartition ONLY when the
relation's current parallelism is below the session's core count, and
never otherwise — so at scale it is a provable no-op (no added
exchange cost), while narrow inputs spread across the cluster before
the expensive work. Callers apply it ONLY where results are
partitioning-independent (per-row projections, integer/min/max/count
aggregations, equi-joins) — never upstream of a floating-point
aggregation, whose summation order must stay exactly as planned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's parallelism
    (defaultParallelism, i.e. total cores) iff its current partition
    count is lower; identity otherwise (the at-scale case).
    Round-robin repartition is used: deterministic under task retry
    (sortBeforeRepartition is on by default) and balanced regardless
    of key skew.
    """
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:
        # streaming frames / unresolvable plans: leave untouched
        return df
    if current >= target:
        return df
    return df.repartition(target)


# scope -> the most recent materialization for that operator site;
# unpersisted (and CacheManager-evicted) when the site materializes
# again, so repeated invocations of the same query RECOMPUTE instead
# of silently plan-matching the previous invocation's cache
_SCOPED_CACHE: dict[str, DataFrame] = {}


def is_materialized(df: DataFrame) -> bool:
    """Whether Spark's cache holds ``df``'s plan right now.
    ``storageLevel`` asks the CacheManager; ``is_cached`` only records
    that ``persist()`` was once called, and stays True after
    ``spark.catalog.clearCache()`` has dropped the data."""
    level = df.storageLevel
    return level.useMemory or level.useDisk


def materialize_with_stats(df: DataFrame, scope: str | None = None) -> DataFrame:
    """Persist ``df`` and count it, so later plans read the cached
    relation and size their joins from its real bytes.

    On Spark 4.1 ``localCheckpoint`` also reports finite stats (the
    LogicalRDD keeps the materialized plan's ``sizeInBytes``, and a
    join against it broadcasts), but only a persisted relation is
    released by ``unpersist`` and ``clearCache``. Scope eviction needs
    that; a loop that must cut its lineage checkpoints instead (see
    ``operators.dedup.connected_components``).

    ``scope`` (pass a stable per-call-site tag): Spark's CacheManager
    matches cached plans STRUCTURALLY, so without eviction a repeated
    invocation of the same operator would silently reuse the previous
    invocation's persisted intermediate — benchmark repeats would then
    time a warm cache rather than the computation (and memory would
    creep per invocation). A scoped materialization unpersists its
    predecessor only AFTER the new relation is cached, because the new
    plan may read the predecessor; a repeat of the predecessor's own
    plan evicts it first, so every invocation computes from its inputs.
    """
    prev = _SCOPED_CACHE.pop(scope, None) if scope is not None else None
    if prev is not None and is_materialized(df):
        _unpersist(prev)
        prev = None
    out = df.persist()
    out.count()
    if prev is not None:
        _unpersist(prev)
    if scope is not None:
        _SCOPED_CACHE[scope] = out
    return out


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass
