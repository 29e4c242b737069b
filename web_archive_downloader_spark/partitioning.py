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


def materialize_with_stats(df: DataFrame) -> DataFrame:
    """Persist ``df`` and count it, so later plans read the cached
    relation and size their joins from its real bytes.

    The materialization lives as long as the caller's query: whoever
    runs the query releases it, with ``unpersist`` or
    ``spark.catalog.clearCache()``. Spark's CacheManager matches cached
    plans structurally, so a harness that repeats a query clears the
    cache first, or the repeat reads the previous run's relation.

    On Spark 4.1 ``localCheckpoint`` also reports finite stats (the
    LogicalRDD keeps the materialized plan's ``sizeInBytes``, and a
    join against it broadcasts), but only a persisted relation is
    released by ``unpersist`` and ``clearCache``; a loop that must cut
    its lineage checkpoints instead (see
    ``operators.dedup.connected_components``).
    """
    out = df.persist()
    out.count()
    return out
