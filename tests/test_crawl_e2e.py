"""End-to-end equality: distributed epoch crawl vs sequential oracle.

The gates from BASELINE.md: exact crawl-order match, exact URL-seen
set match, byte-equal markdown (incl. literal-backslash-n header and
-N collision suffixes), matching asset names — under the same seed
list + politeness budget.
"""

import pytest

from web_archive_downloader_spark.datagen import default_config, gen_cdx_records
from web_archive_downloader_spark.oracle.simulator import run_oracle
from web_archive_downloader_spark.plans.crawl import CrawlPlan
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import StateStore

N_URLS = 110


@pytest.fixture(scope="module")
def crawl_result(spark, tmp_path_factory):
    raw = gen_cdx_records(n_urls=N_URLS, seed=42)
    # large epoch budget => few epochs (fast); equality is budget-invariant
    cfg = default_config(epoch_seconds=90.0)
    store = StateStore(str(tmp_path_factory.mktemp("crawl_state")), spark)
    plan = CrawlPlan(spark, store, cfg)
    stats = plan.run(cdx_dataframe(spark, raw))
    docs, assets = plan.finalize_outputs()
    oracle = run_oracle(raw, cfg)
    return stats, store, docs, assets, oracle


def test_crawl_order_exact(crawl_result, spark):
    from web_archive_downloader_spark.plans.crawl import PROCESSED_SCHEMA

    _, store, _, _, oracle = crawl_result
    processed = store.read("processed", PROCESSED_SCHEMA)
    got = [r.url for r in processed.orderBy("seq").collect()]
    assert got == oracle.crawl_order


def test_url_seen_exact(crawl_result, spark):
    from web_archive_downloader_spark.plans.crawl import URL_SEEN_SCHEMA

    _, store, _, _, oracle = crawl_result
    seen = store.read("url_seen", URL_SEEN_SCHEMA)
    got = [r.url for r in seen.orderBy("seq").collect()]
    assert got == oracle.seen  # ordered checkpoint-add sequence
    assert set(got) == oracle.seen_set


def test_docs_byte_equal(crawl_result):
    _, _, docs, _, oracle = crawl_result
    got = {
        r.url: (r.title, r.dir, r.filename, r.markdown, r.via, r.ts)
        for r in docs.collect()
    }
    exp = {
        d["url"]: (d["title"], d["dir"], d["filename"], d["markdown"], d["via"], d["ts"])
        for d in oracle.docs
    }
    assert set(got) == set(exp)
    mismatches = {u: (got[u], exp[u]) for u in exp if got[u] != exp[u]}
    assert not mismatches, f"{len(mismatches)} doc mismatches; first: {next(iter(mismatches.items()))}"


def test_html_sink_byte_equal(crawl_result):
    """SNK2: the original-HTML output (html column + .html collision
    names) must byte-match the reference's save_html behavior
    (file_handler.py:156-201; gated on title only — md-fail pages
    with a title still save html)."""
    from web_archive_downloader_spark.plans.crawl import CrawlPlan
    from web_archive_downloader_spark.datagen import default_config
    from web_archive_downloader_spark.sources.state import StateStore

    stats, store, _, _, oracle = crawl_result
    cfg = default_config(epoch_seconds=90.0)
    assert cfg.save_original_html
    plan = CrawlPlan(store.spark, store, cfg)
    htmls = plan.finalize_html()
    got = {
        r.url: (r.title, r.dir, r.filename, r.html, r.ts) for r in htmls.collect()
    }
    exp = {
        h["url"]: (h["title"], h["dir"], h["filename"], h["html"], h["ts"])
        for h in oracle.htmls
    }
    assert len(exp) > 0
    assert set(got) == set(exp)
    mismatches = {u: (got[u], exp[u]) for u in exp if got[u] != exp[u]}
    assert not mismatches, f"{len(mismatches)} html mismatches; first: {next(iter(mismatches.items()))}"


def test_assets_match(crawl_result):
    _, _, _, assets, oracle = crawl_result
    got = sorted(
        (r.page_url, r.asset_url, r.kind, r.dir, r.filename, r.nbytes)
        for r in assets.filter("filename is not null").collect()
    )
    exp = sorted(
        (a["page_url"], a["asset_url"], a["kind"], a["dir"], a["filename"], a["nbytes"])
        for a in oracle.assets
    )
    assert got == exp


def test_images_corpus_matches_oracle(crawl_result, spark):
    """The graft's payload corpus (BASELINE.json:15): decoded dims,
    phash, format, caption byte-equality, per saved image payload."""
    from web_archive_downloader_spark.operators.images import IMAGES_SCHEMA

    _, store, _, _, oracle = crawl_result
    imgs = store.read("images", IMAGES_SCHEMA)
    got = {
        r.image_id: (r.w, r.h, r.fmt, r.caption, r.phash, len(bytes(r.bytes)))
        for r in imgs.collect()
    }
    exp = {
        i["image_id"]: (i["w"], i["h"], i["fmt"], i["caption"], i["phash"], i["nbytes"])
        for i in oracle.images
    }
    assert len(exp) > 0
    assert got == exp


def test_observe_metrics_match_processed(crawl_result, spark):
    """SNK5/A3: the df.observe() epoch counters must reconcile with
    the processed-table dispositions — same invariant the reference's
    logged run counters satisfy (main.py:50-54,169-175)."""
    import pyspark.sql.functions as F
    from web_archive_downloader_spark.plans.crawl import METRICS_SCHEMA, PROCESSED_SCHEMA

    stats, store, _, _, _ = crawl_result
    metrics = {
        (r.epoch, r.metric): r.value
        for r in store.read("metrics", METRICS_SCHEMA).collect()
    }
    processed = store.read("processed", PROCESSED_SCHEMA)
    per_epoch = {
        (r.epoch, r.disposition): r.n
        for r in processed.groupBy("epoch", "disposition").agg(F.count("*").alias("n")).collect()
    }
    epochs = sorted({e for (e, _) in metrics})
    assert sum(metrics[(e, "scheduled")] for e in epochs) == stats.scheduled
    assert stats.epochs == len(epochs)
    for e in epochs:
        # wayback extract successes == success_wayback dispositions
        assert metrics[(e, "extract_ok")] == per_epoch.get((e, "success_wayback"), 0)
        assert metrics[(e, "extract_fail")] == per_epoch.get((e, "extract_fail"), 0)
        # every ok-routed fetch lands in exactly one of the two
        assert metrics[(e, "fetched_ok")] == metrics[(e, "extract_ok")] + metrics[(e, "extract_fail")]
        # every scheduled fetch is routed exactly once
        assert metrics[(e, "fetched_total")] == metrics[(e, "scheduled")]
        assert (
            metrics[(e, "fetched_total")]
            == metrics[(e, "fetched_ok")] + metrics[(e, "retry")] + metrics[(e, "dead_wayback")]
        )

    # asset counters (reference main.py:111-139): saved == assets_raw
    # rows per epoch; found = saved + failed; per-kind counters sum to
    # the totals
    from web_archive_downloader_spark.plans.crawl import ASSETS_RAW_SCHEMA

    assets_raw = store.read("assets_raw", ASSETS_RAW_SCHEMA)
    saved_per_epoch = {
        r.epoch: r.n
        for r in assets_raw.groupBy("epoch").agg(F.count("*").alias("n")).collect()
    }
    assert sum(saved_per_epoch.values()) > 0
    kinds = sorted(
        {m.rsplit("_", 1)[1] for (_, m) in metrics if m.startswith("assets_found_")}
    )
    assert kinds  # at least one enabled kind reported
    for e in epochs:
        assert metrics[(e, "assets_saved")] == saved_per_epoch.get(e, 0)
        assert metrics[(e, "assets_attempted")] == metrics[(e, "assets_found")]
        assert (
            metrics[(e, "assets_found")]
            == metrics[(e, "assets_saved")] + metrics[(e, "assets_failed")]
        )
        for facet in ("found", "saved", "failed"):
            assert metrics[(e, f"assets_{facet}")] == sum(
                metrics[(e, f"assets_{facet}_{k}")] for k in kinds
            )


def test_politeness_budget_respected(crawl_result, spark):
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    stats, store, _, _, _ = crawl_result
    lineage = store.read("lineage")
    cfg = default_config(epoch_seconds=90.0)
    per_host_epoch = lineage.groupBy("epoch", "host").agg(F.sum("granted").alias("n"))
    over = per_host_epoch.filter(F.col("n") > cfg.per_host_epoch_budget).count()
    assert over == 0
    assert stats.epochs >= 2  # budget actually forced multiple epochs


def test_canonicalize_urls_collapses_variants_and_matches_oracle(spark, tmp_path):
    """canonicalize_urls=True (engine extension, off for reference
    parity): equivalent spellings of one resource — scheme/host case,
    default ports, fragments, query order — collapse to ONE frontier
    row / one fetch, the latest-per-URL dedup sees them as one url
    (latest ts wins across spellings), and the crawl still matches
    the oracle (which applies the same kernel) exactly."""
    base = gen_cdx_records(n_urls=12, seed=47, include_header=False)
    variants = [
        # same resource, three spellings, ts strictly increasing: the
        # canonical latest must be the :80-spelling's ts
        ["http://vary.example.org/page?a=1&b=2", "20230101000000", "text/html"],
        ["HTTP://Vary.Example.ORG/page?b=2&a=1#frag", "20230201000000", "text/html"],
        ["http://vary.example.org:80/page?a=1&b=2", "20230301000000", "text/html"],
    ]
    raw = [["original", "timestamp", "mimetype"]] + base + variants
    cfg = default_config(epoch_seconds=60.0, max_retries=2, canonicalize_urls=True)
    oracle = run_oracle(raw, cfg)
    canon = "http://vary.example.org/page?a=1&b=2"
    assert oracle.crawl_order.count(canon) == 1
    assert not any("Vary.Example" in u or ":80/" in u for u in oracle.crawl_order)

    store = StateStore(str(tmp_path / "cn"), spark)
    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw))
    from web_archive_downloader_spark.plans.crawl import (
        PROCESSED_SCHEMA,
        URL_SEEN_SCHEMA,
    )

    order = [
        r.url
        for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
    ]
    assert order == oracle.crawl_order
    seen = [
        r.url
        for r in store.read("url_seen", URL_SEEN_SCHEMA).orderBy("seq").collect()
    ]
    assert seen == oracle.seen
    assert order.count(canon) == 1
    store.destroy()
