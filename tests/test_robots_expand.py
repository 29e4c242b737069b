"""Robots gate (broadcast disallow + crawl_delay budgets) and
depth-bounded frontier link expansion."""

from pyspark.sql import functions as F

from web_archive_downloader_spark.datagen import default_config, gen_cdx_records
from web_archive_downloader_spark.operators.robots import (
    apply_robots_gate,
    host_budget_col,
    latest_robots,
)
from web_archive_downloader_spark.oracle.simulator import run_oracle
from web_archive_downloader_spark.plans.crawl import (
    PROCESSED_SCHEMA,
    URL_SEEN_SCHEMA,
    CrawlPlan,
    seed_frontier_from_cdx,
)
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import StateStore


def test_robots_gate_split(spark):
    frontier = spark.createDataFrame(
        [
            ("https://a.com/private/x", "a.com"),
            ("https://a.com/public/x", "a.com"),
            ("https://b.com/private/x", "b.com"),
        ],
        ["url", "host"],
    )
    robots = spark.createDataFrame(
        [("a.com", ["/private"], 2.0, 0)],
        "host string, disallow array<string>, crawl_delay double, fetched_epoch int",
    )
    out = apply_robots_gate(frontier, robots).collect()
    got = {r.url: r.robots_blocked for r in out}
    assert got == {
        "https://a.com/private/x": True,
        "https://a.com/public/x": False,
        "https://b.com/private/x": False,  # no robots row -> allowed
    }


def test_robots_budgets_and_refresh(spark):
    robots = spark.createDataFrame(
        [
            ("a.com", [], 1.0, 0),
            ("a.com", [], 10.0, 2),  # refreshed row wins
            ("b.com", [], 0.5, 0),
        ],
        "host string, disallow array<string>, crawl_delay double, fetched_epoch int",
    )
    budgets = latest_robots(robots).select(
        "host", host_budget_col(30.0, F.col("crawl_delay")).alias("host_budget")
    )
    got = {r.host: r.host_budget for r in budgets.collect()}
    assert got == {"a.com": 3, "b.com": 60}


def test_crawl_with_robots_matches_oracle(spark, tmp_path):
    raw = gen_cdx_records(n_urls=32, seed=21)
    cfg = default_config(epoch_seconds=90.0, respect_robots=True, max_retries=2)

    # fixture robots rules over the target host
    hosts = ["ex.com"]
    rules = {h: ["/docs", "/blog/post"] for h in hosts}
    robots = spark.createDataFrame(
        [(h, rules[h], 1.5, 0) for h in hosts],
        "host string, disallow array<string>, crawl_delay double, fetched_epoch int",
    )

    store = StateStore(str(tmp_path / "s"), spark)
    m = store.read_manifest()
    m["tables"].setdefault("robots", []).append(store.stage("robots", -1, robots))
    store._write_manifest(m)

    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw))
    docs, _ = plan.finalize_outputs()

    oracle = run_oracle(raw, cfg, robots=rules)
    got_order = [r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()]
    assert got_order == oracle.crawl_order
    got_seen = [r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).orderBy("seq").collect()]
    assert got_seen == oracle.seen
    blocked = {
        r.url
        for r in store.read("processed", PROCESSED_SCHEMA)
        .filter(F.col("disposition") == "robots_blocked")
        .collect()
    }
    oracle_blocked = {u for u, r in oracle.failed if r == "robots_blocked"}
    assert blocked == oracle_blocked and len(blocked) > 0
    got_docs = {r.url: r.markdown for r in docs.collect()}
    exp_docs = {d["url"]: d["markdown"] for d in oracle.docs}
    assert got_docs == exp_docs


def test_link_expansion_deterministic(spark, tmp_path):
    # 6 links/page halves the expanded frontier vs the original 12 —
    # the depth-1 determinism property is size-independent and the
    # test runs the whole crawl TWICE
    raw = gen_cdx_records(n_urls=10, seed=33)
    cfg = default_config(
        epoch_seconds=120.0, expand_links=True, max_depth=1,
        max_links_per_page=6, max_retries=1,
    )

    def run(path):
        store = StateStore(path, spark)
        plan = CrawlPlan(spark, store, cfg)
        plan.run(cdx_dataframe(spark, raw), max_epochs=40)
        order = [
            (r.url, r.seq)
            for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
        ]
        return order

    o1 = run(str(tmp_path / "x1"))
    o2 = run(str(tmp_path / "x2"))
    assert o1 == o2
    # expansion actually happened: some processed rows carry depth-1 seqs
    assert any(seq >= (1 << 50) for _, seq in o1)
    # no url processed twice
    urls = [u for u, _ in o1]
    assert len(urls) == len(set(urls))
