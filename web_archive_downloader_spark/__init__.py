"""PySpark-native web-archive crawl/analytics engine.

A brand-new distributed re-implementation of the *semantics* of
vojtabiberle/web-archive-downloader (reference read-only at
/root/reference/): a partitioned URL frontier + fetch scheduler with
per-host politeness budgets, an exact URL-seen set (partitioned Bloom
prefilter + exact anti-join), vectorized fetch/extract stages over
Arrow batches, snapshot-committed state tables (Iceberg layout; a
parquet+manifest stand-in when Iceberg jars are absent), and a suite
of training-data operators (dedup, similarity search, text analysis,
sequence packing, image near-dup).

Architecture is Spark-first: DataFrame/SQL plans optimized by
Catalyst, shuffles minimized by explicit hash-partitioning and
broadcasts, Python only inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
