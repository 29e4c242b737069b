"""Structured Streaming operators.

The reference is batch-only; its loop maps onto the deterministic
epoch-BSP pipeline in plans/crawl.py (Structured Streaming's ordering
guarantees are too weak for exact crawl-order matching — SURVEY
§2.10). Streaming's role in this engine is continuous frontier
ingestion: new CDX shards / discovered links land as files; a
file-source stream validates + dedups them into frontier appends
between epochs (plus exact dedup of arriving documents at the
ingestion edge).

These are expressed with the standard readStream -> transform ->
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


def stream_cdx_ingest(
    spark: SparkSession, in_dir: str, out_dir: str, checkpoint_dir: str
):
    """File-source stream of CDX shards -> validated frontier-append
    rows. Exactly-once via the streaming checkpoint; downstream dedup
    against url_seen stays in the epoch loop (membership needs the
    full seen-state, which is batch-side)."""
    raw = (
        spark.readStream.schema(CDX_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(in_dir)
    )
    validated = valid_cdx(raw).withColumn("host", F.parse_url("url", F.lit("HOST")))
    return (
        validated.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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


def drain_frontier_inbox(spark: SparkSession, inbox_dir: str) -> DataFrame:
    """INSPECTION/TEST helper: read all landed feed batches as
    frontier-candidate rows. NOT the crawl's drain path — rows keep
    their raw per-shard seqs, which alias the CDX-seed seq space;
    feeding them into a frontier directly would create
    nondeterministic ordering collisions with seeds. The epoch loop
    drains with ``CrawlPlan.ingest_inbox``, which repacks seqs into
    the 2^45+ ingest namespace and commits batch ids exactly-once.
    Drops the batch-id partition column — it is commit bookkeeping,
    not frontier state. An inbox with no landed batch yet (stream
    started, nothing triggered) is a valid empty frontier, not a
    read error."""
    import os

    from ..plans.crawl import FRONTIER_SCHEMA

    if not os.path.isdir(inbox_dir) or not any(
        e.startswith("batch=") for e in os.listdir(inbox_dir)
    ):
        return spark.createDataFrame([], FRONTIER_SCHEMA)
    return spark.read.parquet(inbox_dir).drop("batch")


def stream_exact_dedup(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
):
    """Streaming EXACT dedup at the ingestion edge — the streaming
    member of the dedup family (batch: operators/dedup.exact_dedup).
    Incoming document rows (doc_id, text, event_time) dedup on
    md5(text) via ``dropDuplicatesWithinWatermark``: one surviving row
    per content hash among arrivals within the watermark horizon.

    Scale shape: dedup state is per-key and EXPIRES once the watermark
    passes a key's horizon — memory is bounded by arrival rate x
    horizon, never by corpus size (a full-history exact dedup belongs
    batch-side against a persisted hash table, same split as the
    frontier's J1 membership). Exactly-once via the source checkpoint
    + append sink."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(in_dir)
    )
    deduped = (
        stream.withColumn("content_hash", F.md5("text"))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
