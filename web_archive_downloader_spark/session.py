"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: we still size
``spark.sql.shuffle.partitions`` to cores, enable AQE (runtime skew
handling + partition coalescing), and keep Arrow on for every pandas
UDF boundary. On a real cluster the same builder is used by
``spark-submit --py-files`` (see bench.py / README).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: a fifth of
    physical RAM, 1-8 GiB. A fixed large heap lets the one local-mode
    JVM grow past what a small host can give it (the kernel then kills
    it mid-run); the cap leaves the rest to the Python workers."""
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(1024, min(8192, ram_mb // 5))}m"


def get_spark(
    app_name: str = "web_archive_downloader_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` means ``local[*]``. ``shuffle_partitions`` defaults
    to the core count — at 100 TB on a 1000-executor cluster this is
    instead sized to ~2-3x total cores by the submitter; AQE coalesces
    small post-shuffle partitions either way.
    """
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or cores or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is tuned for PAYLOAD-heavy rows (pages are
        # tens of KB): 1k rows ~ 30 MB per in-flight batch per worker.
        # 10k-row default batches would put ~300 MB per task in flight
        # and thrash memory once parallelism is real.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # Local mode = one JVM: the driver heap is ALL the executor
        # memory. Undersizing it throttles 32-way pandas-UDF stages
        # (measured 2.5x on payload batches: GC pressure while 32
        # Arrow streams are in flight).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # 192 MB: the dedup family's materialized doc-feature relation
        # (~87 MB at sf1.0) then broadcasts into the candidate-pair
        # stream instead of shuffling 20M pair rows through two hash
        # joins (similarity_pairs 34s -> 20s). Guide §3.1: a few
        # hundred MB of broadcast is fine; the build side is always the
        # planner's size-based choice, so corpus-scale relations never
        # broadcast regardless of this threshold.
        .config("spark.sql.autoBroadcastJoinThreshold", str(192 * 1024 * 1024))
        # Let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold: the heavy candidate-pair streams then
        # probe small per-partition hash tables instead of paying a
        # full sort of the streamed side. Kept because it is measured:
        # without it, perfbench corpus_build job_s rose 5-7% on a
        # quiet 4-core host (medians of two 5-pair alternating sets,
        # 26.0 -> 27.4 s and 27.6 -> 29.5 s), more than the spread
        # between runs. AQE can additionally rewrite SMJ->SHJ at
        # runtime when every post-shuffle partition is under the
        # local-map threshold.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
