"""Structured Streaming: the continuous frontier feed.

The reference is batch-only; its loop maps onto the deterministic
epoch-BSP pipeline in plans/crawl.py (Structured Streaming's ordering
guarantees are too weak for exact crawl-order matching — SURVEY
§2.10). Streaming's role in this engine is continuous frontier
ingestion: new CDX shards land as files; a file-source stream
validates them into per-batch inbox dirs, which
``CrawlPlan.ingest_inbox`` drains into the frontier between epochs.

The stream uses the standard readStream -> transform ->
writeStream(availableNow) pattern so tests run deterministically to
completion on static fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.latest import valid_cdx

CDX_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("mimetype", T.StringType()),
        T.StructField("status", T.IntegerType()),  # null on prefiltered shards
        T.StructField("seq", T.LongType()),
    ]
)


def stream_frontier_feed(
    spark: SparkSession,
    in_dir: str,
    inbox_dir: str,
    checkpoint_dir: str,
    prefiltered_feed: bool = True,
):
    """Continuous frontier feed via foreachBatch: CDX shards land as
    files; each micro-batch validates rows, shapes them as frontier
    candidates (host, depth 0, attempt 1), and writes an IDEMPOTENT
    per-batch-id parquet dir. Exactly-once = the file-source
    checkpoint (no shard re-read) + batch-id-keyed overwrite (a
    replayed batch overwrites its own dir, never duplicates). The
    epoch loop drains the inbox between epochs with
    ``CrawlPlan.ingest_inbox`` — the SANCTIONED drain path: it
    repacks each row's raw per-shard seq into the 2^45+ ingest
    namespace (raw feed seqs alias the CDX-seed seq space) and
    commits drained batch ids atomically with the frontier swap.
    Seen-set dedup stays in the epoch anti-join, which needs the full
    membership state (batch side)."""
    from ..sources.cdx import cdx_server_filter

    raw = (
        spark.readStream.schema(CDX_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    # same F2/F3 gate as the batch seed path: a status-bearing shard's
    # non-200 / non-html rows must not enter the frontier via streaming.
    # Thread prefiltered_feed from EngineConfig exactly like
    # seed_frontier_from_cdx — strict deployments (mixed-provenance
    # feeds) drop null status/mimetype rows here too.
    feed = valid_cdx(cdx_server_filter(raw, prefiltered_feed=prefiltered_feed)).select(
        "url",
        "ts",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.lit(0).alias("depth"),
        F.lit(0.0).alias("priority"),
        "seq",
        F.lit(1).alias("attempt"),
        F.lit(0).alias("eligible_epoch"),
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{inbox_dir}/batch={batch_id}")

    return (
        feed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
