"""Structured Streaming: file-source CDX ingest (exactly-once) and the
foreachBatch frontier feed drained into the epoch loop."""

import pandas as pd
from pyspark.sql import functions as F

from web_archive_downloader_spark.datagen import gen_cdx_records
from web_archive_downloader_spark.oracle.simulator import process_cdx_oracle, strip_header
from web_archive_downloader_spark.streaming.events import (
    drain_frontier_inbox,
    stream_cdx_ingest,
    stream_frontier_feed,
)


def test_stream_cdx_ingest_validates_and_preserves(spark, tmp_path):
    raw = gen_cdx_records(n_urls=100, seed=5)
    rows = [
        (r[0] or None, r[1] if len(r) > 1 else None, r[2] if len(r) > 2 else None, i)
        for i, r in enumerate(strip_header(raw))
        if isinstance(r, list)
    ]
    in_dir = str(tmp_path / "in")
    pdf = pd.DataFrame(rows, columns=["url", "ts", "mimetype", "seq"])
    # two shard files arriving "over time"
    spark.createDataFrame(pdf.iloc[: len(pdf) // 2]).write.parquet(in_dir + "/shard1")
    spark.createDataFrame(pdf.iloc[len(pdf) // 2 :]).write.parquet(in_dir + "/shard2")

    q = stream_cdx_ingest(
        spark, in_dir + "/*", str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    got_urls = {r.url for r in out.select("url").collect()}
    oracle_urls = set(process_cdx_oracle(strip_header(raw)).keys())
    assert got_urls == oracle_urls  # validation filters identical to F4/F5
    assert out.filter(F.col("host").isNull()).count() == 0


def test_frontier_feed_foreach_batch_exactly_once(spark, tmp_path):
    """foreachBatch frontier feed: frontier-shaped rows land in
    batch-id-keyed inbox dirs; re-running the stream (fresh trigger,
    same checkpoint) must NOT duplicate rows — the source checkpoint
    skips processed shards."""
    raw = gen_cdx_records(n_urls=60, seed=13)
    rows = [
        (r[0] or None, r[1] if len(r) > 1 else None, r[2] if len(r) > 2 else None, i)
        for i, r in enumerate(strip_header(raw))
        if isinstance(r, list)
    ]
    in_dir = str(tmp_path / "in")
    inbox = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ck")
    pdf = pd.DataFrame(rows, columns=["url", "ts", "mimetype", "seq"])
    spark.createDataFrame(pdf.iloc[: len(pdf) // 2]).write.parquet(in_dir + "/s1")
    spark.createDataFrame(pdf.iloc[len(pdf) // 2 :]).write.parquet(in_dir + "/s2")

    q = stream_frontier_feed(spark, in_dir + "/*", inbox, ckpt)
    q.awaitTermination(120)
    got = drain_frontier_inbox(spark, inbox)
    valid_urls = {r[0] for r in rows if r[0] and r[1] and len(str(r[1])) == 14 and str(r[1]).isdigit()}
    assert {r.url for r in got.collect()} == valid_urls
    assert set(got.columns) == {
        "url", "ts", "host", "depth", "priority", "seq", "attempt", "eligible_epoch"
    }
    n1 = got.count()

    # second trigger over the same input: nothing new to process
    q2 = stream_frontier_feed(spark, in_dir + "/*", inbox, ckpt)
    q2.awaitTermination(120)
    assert drain_frontier_inbox(spark, inbox).count() == n1

    # a NEW shard arrives: only its rows are appended
    extra = pd.DataFrame(
        [("https://ex.com/new-page", "20230101000000", "text/html", 10_000)],
        columns=["url", "ts", "mimetype", "seq"],
    )
    spark.createDataFrame(extra).write.parquet(in_dir + "/s3")
    q3 = stream_frontier_feed(spark, in_dir + "/*", inbox, ckpt)
    q3.awaitTermination(120)
    final = drain_frontier_inbox(spark, inbox)
    assert final.count() == n1 + 1
    assert final.filter(F.col("url") == "https://ex.com/new-page").count() == 1


def test_drain_empty_inbox_returns_empty_frontier(spark, tmp_path):
    """An inbox with no landed batch yet is a valid empty frontier,
    not a path-not-found/schema-inference error."""
    got = drain_frontier_inbox(spark, str(tmp_path / "never_written"))
    assert got.count() == 0
    assert set(got.columns) == {
        "url", "ts", "host", "depth", "priority", "seq", "attempt", "eligible_epoch"
    }


def test_frontier_feed_applies_server_filter(spark, tmp_path):
    """A status-bearing shard's non-200 / non-html rows must not enter
    the frontier via streaming (same F2/F3 gate as the batch seed)."""
    from web_archive_downloader_spark.streaming.events import CDX_STREAM_SCHEMA

    rows = [
        ("https://ex.com/good", "20230101000000", "text/html", 200, 0),
        ("https://ex.com/gone", "20230101000000", "text/html", 404, 1),
        ("https://ex.com/pdf", "20230101000000", "application/pdf", 200, 2),
        ("https://ex.com/prefiltered", "20230101000000", "text/html", None, 3),
    ]
    in_dir, inbox, ckpt = (str(tmp_path / d) for d in ("in", "inbox", "ck"))
    spark.createDataFrame(rows, CDX_STREAM_SCHEMA).write.parquet(in_dir + "/s1")
    q = stream_frontier_feed(spark, in_dir + "/*", inbox, ckpt)
    q.awaitTermination(120)
    got = {r.url for r in drain_frontier_inbox(spark, inbox).collect()}
    assert got == {"https://ex.com/good", "https://ex.com/prefiltered"}


def test_crawl_with_continuous_frontier_ingestion(spark, tmp_path):
    """Streaming->batch handoff end-to-end: a crawl seeded from a CDX
    list completes; new feed shards land in the inbox via
    stream_frontier_feed; a resumed run with inbox_dir drains them
    exactly once (batch ids recorded atomically with the frontier
    replacement) — every streamed url processed exactly once, ordered
    AFTER the whole seed crawl in feed order; re-triggering the stream
    and re-running adds nothing."""
    from web_archive_downloader_spark.datagen import default_config, gen_cdx_records
    from web_archive_downloader_spark.plans.crawl import (
        PROCESSED_SCHEMA,
        CrawlPlan,
    )
    from web_archive_downloader_spark.sources.cdx import cdx_dataframe
    from web_archive_downloader_spark.sources.state import StateStore
    from web_archive_downloader_spark.streaming.events import CDX_STREAM_SCHEMA

    raw1 = gen_cdx_records(n_urls=15, seed=23)
    cfg = default_config(epoch_seconds=60.0, max_retries=2)
    store = StateStore(str(tmp_path / "st"), spark)
    plan = CrawlPlan(spark, store, cfg)
    inbox = str(tmp_path / "inbox")
    plan.run(cdx_dataframe(spark, raw1), inbox_dir=inbox)  # inbox absent: plain run
    seed_order = [
        r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
    ]
    assert seed_order

    # two feed shards arrive (distinct urls incl. a dup snapshot pair)
    streamed = [
        ("https://example.com/streamed-a", "20230101000000", "text/html", None, 0),
        ("https://example.com/streamed-b", "20230102000000", "text/html", None, 1),
        ("https://example.com/streamed-a", "20230201000000", "text/html", None, 2),
    ]
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.createDataFrame(streamed[:2], CDX_STREAM_SCHEMA).write.parquet(in_dir + "/s1")
    spark.createDataFrame(streamed[2:], CDX_STREAM_SCHEMA).write.parquet(in_dir + "/s2")
    q = stream_frontier_feed(spark, in_dir + "/*", inbox, ckpt)
    q.awaitTermination(120)

    plan2 = CrawlPlan(spark, store, cfg)
    plan2.run(cdx_dataframe(spark, raw1), resume=True, inbox_dir=inbox)
    processed = store.read("processed", PROCESSED_SCHEMA)
    rows = processed.orderBy("seq").collect()
    order = [r.url for r in rows]
    # seed crawl order untouched, streamed urls appended in feed order
    assert order[: len(seed_order)] == seed_order
    tail = order[len(seed_order):]
    assert tail == [
        "https://example.com/streamed-a",  # latest-per-url, first-appearance
        "https://example.com/streamed-b",
    ]
    assert all(r.seq >= CrawlPlan.INGEST_SEQ_BASE for r in rows[len(seed_order):])
    # exactly once each
    counts = processed.groupBy("url").count().filter("count > 1").count()
    assert counts == 0

    # re-trigger the stream (nothing new) + re-run: no duplicates
    q2 = stream_frontier_feed(spark, in_dir + "/*", inbox, ckpt)
    q2.awaitTermination(120)
    plan3 = CrawlPlan(spark, store, cfg)
    plan3.run(cdx_dataframe(spark, raw1), resume=True, inbox_dir=inbox)
    assert store.read("processed", PROCESSED_SCHEMA).count() == len(order)


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming exact dedup: duplicate texts arriving across shards
    collapse to one surviving row per content hash; a re-trigger over
    the same input emits nothing new (source checkpoint + dedup
    state)."""
    import datetime as dt

    from pyspark.sql import types as T

    from web_archive_downloader_spark.streaming.events import stream_exact_dedup

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    t0 = dt.datetime(2023, 1, 1, 12, 0, 0)
    rows1 = [
        (1, "alpha beta", t0),
        (2, "gamma delta", t0),
        (3, "alpha beta", t0),  # dup of 1, same shard
    ]
    rows2 = [
        (4, "alpha beta", t0 + dt.timedelta(minutes=5)),   # dup across shards
        (5, "epsilon zeta", t0 + dt.timedelta(minutes=5)),
    ]
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    spark.createDataFrame(rows1, schema).write.parquet(in_dir + "/s1")
    spark.createDataFrame(rows2, schema).write.parquet(in_dir + "/s2")

    q = stream_exact_dedup(spark, in_dir + "/*", out_dir, ckpt, watermark="1 hour")
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    texts = sorted(r.text for r in out.collect())
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]

    # nothing new on re-trigger
    q2 = stream_exact_dedup(spark, in_dir + "/*", out_dir, ckpt, watermark="1 hour")
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 3


def test_ingest_rejects_null_or_oversized_feed_seq(spark, tmp_path):
    """Null/out-of-range feed seqs would produce null frontier seqs
    (nondeterministic crawl order) — the drain refuses loudly."""
    import pytest

    from web_archive_downloader_spark.config import EngineConfig
    from web_archive_downloader_spark.plans.crawl import CrawlPlan
    from web_archive_downloader_spark.sources.state import StateStore

    inbox = str(tmp_path / "inbox")
    rows = [
        ("https://ex.com/ok", "20230101000000", "ex.com", 0, 0.0, None, 1, 0),
    ]
    schema = (
        "url string, ts string, host string, depth int, priority double,"
        " seq long, attempt int, eligible_epoch int"
    )
    spark.createDataFrame(rows, schema).write.parquet(inbox + "/batch=0")
    store = StateStore(str(tmp_path / "st"), spark)
    plan = CrawlPlan(spark, store, EngineConfig())
    with pytest.raises(ValueError, match="null/out-of-range seq"):
        plan.ingest_inbox(inbox)


def test_ingest_refuses_deep_expansion(spark, tmp_path):
    """Ingested seqs live at 2^45; depth-2 expansion children of such
    parents would wrap int64 seq packing — the combination is refused."""
    import pytest

    from web_archive_downloader_spark.datagen import default_config
    from web_archive_downloader_spark.plans.crawl import CrawlPlan
    from web_archive_downloader_spark.sources.state import StateStore

    inbox = str(tmp_path / "inbox")
    rows = [("https://ex.com/a", "20230101000000", "ex.com", 0, 0.0, 0, 1, 0)]
    schema = (
        "url string, ts string, host string, depth int, priority double,"
        " seq long, attempt int, eligible_epoch int"
    )
    spark.createDataFrame(rows, schema).write.parquet(inbox + "/batch=0")
    cfg = default_config(expand_links=True, max_depth=2)
    store = StateStore(str(tmp_path / "st2"), spark)
    with pytest.raises(ValueError, match="max_depth <= 1"):
        CrawlPlan(spark, store, cfg).ingest_inbox(inbox)
