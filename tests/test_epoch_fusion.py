"""The fused epoch: one page pass per scheduled url and one packed
write per epoch.

- the fused per-page function returns exactly the rows of the
  standalone stages it replaces, and parses each ok page once;
- an epoch runs at most 12 Spark jobs, and the crawl (robots, memento,
  original-HTML sink, img assets, a checkpoint) still equals the
  sequential oracle, including after a kill/resume at every epoch;
- the robots gate runs after the seen-set probe, so a checkpointed url
  under a disallowed prefix is skipped, not re-recorded;
- every registered table reaches disk only through packed writes, so
  every state file carries the packed union's types;
- the packed union schema refuses two types for one column.
"""

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import web_archive_downloader_spark.content.extract as extract_mod
import web_archive_downloader_spark.sources.fetch_shim as shim
from web_archive_downloader_spark.datagen import (
    default_config,
    gen_cdx_multihost,
    gen_cdx_records,
    page_html,
    page_html_rich,
)
from web_archive_downloader_spark.oracle.simulator import run_oracle
from web_archive_downloader_spark.plans.crawl import (
    DOCS_RAW_SCHEMA,
    HTML_RAW_SCHEMA,
    PROCESSED_SCHEMA,
    URL_SEEN_SCHEMA,
    CrawlPlan,
)
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import TABLES, StateStore, union_schema


# ---- fused page function vs the standalone stages ----------------------

def _make_server():
    """Content server keyed on the first path segment (a closure, so
    Spark's Python workers receive it by value)."""

    def server(url: str, attempt: int):
        kind = url.split("/")[3]
        if kind == "rich":
            return "ok", page_html_rich(url, n_paras=6)
        if kind == "plain":
            return "ok", page_html(url)
        if kind == "empty":
            return "ok", ""
        if kind == "absent":
            return "ok", None
        if kind == "retry":
            return "http_500", None
        return "http_404", None  # wayback-dead: memento fallback

    return server


_server = _make_server()


DEAD = [f"https://m{i % 3}.example.org/dead/{i}" for i in range(24)]
PAGES = (
    [f"https://r{i % 2}.example.org/rich/{i}" for i in range(4)]
    + [f"https://ex.com/plain/{w}" for w in ("a", "b", "c", "d", "e", "f")]
    + ["https://e.example.org/empty/1", "https://e.example.org/absent/1"]
    + ["https://t.example.org/retry/1"]
    + DEAD
)
CFG = default_config(target_domain="", max_retries=2)

_SCHED = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("seq", T.LongType()),
        T.StructField("attempt", T.IntegerType()),
    ]
)


def _sched(spark):
    rows = [
        (u, "20230101000000", u.split("/")[2], 0, 0.0, i, 1)
        for i, u in enumerate(PAGES)
    ]
    return spark.createDataFrame(rows, _SCHED).repartition(3)


def test_page_pass_matches_standalone_stages(spark, monkeypatch):
    from web_archive_downloader_spark.functions.scalar import route_of
    from web_archive_downloader_spark.operators.images import (
        extract_captions_stage,
        images_from_assets,
    )
    from web_archive_downloader_spark.sources.fetch_shim import (
        asset_fetch_stage,
        extract_stage,
        fetch_stage,
        find_assets_stage,
        memento_stage,
        page_pass_stage,
    )

    monkeypatch.setattr(shim, "wayback_fetch_sim", _server)
    sched = _sched(spark)

    # standalone chain, as the per-stage epoch ran it, routed by the
    # kernel the page pass calls (tests/test_scalar.py checks route_of
    # against the oracle's retry loop)
    fetched = fetch_stage(sched)
    routed = spark.createDataFrame(
        [(*r, route_of(r.outcome, r.attempt, CFG.max_retries)) for r in fetched.collect()],
        T.StructType(fetched.schema.fields + [T.StructField("route", T.StringType())]),
    ).cache()
    ok = routed.filter(F.col("route") == "ok")
    extracted = extract_stage(ok.select("url", "ts", "seq", "attempt", "html"), CFG)
    want_extract = {r.url: (r.title, r.content_html, r.md_ok) for r in extracted.collect()}
    want_html = {
        r.url for r in extracted.filter(
            F.col("title").isNotNull() & (F.col("title") != "")
            & F.col("html").isNotNull() & (F.col("html") != "")
        ).collect()
    }
    assets = asset_fetch_stage(find_assets_stage(ok.select("url", "ts", "seq", "html"), CFG))
    want_assets = sorted(
        (r.page_url, r.kind, r.asset_url, r.asset_pos, r.nbytes, r.bytes is not None)
        for r in assets.collect()
    )
    images = images_from_assets(
        assets.filter(F.col("bytes").isNotNull() & (F.col("kind") == "img")),
        extract_captions_stage(ok.select("url", "html"), CFG.target_domain),
    )
    want_images = sorted(tuple(r) for r in images.collect())
    mem = memento_stage(
        routed.filter(F.col("route") == "dead_wayback").select("url", "ts", "seq", "attempt"), CFG
    ).cache()
    want_memento = {r.url: r.memento_result for r in mem.collect()}
    mem_extracted = extract_stage(
        mem.filter(F.col("memento_result") == "ok").select(
            "url", "ts", "seq", "attempt", F.col("memento_html").alias("html")
        ),
        CFG,
    )
    want_mem_extract = {r.url: (r.title, r.content_html, r.md_ok) for r in mem_extracted.collect()}
    want_route = {r.url: r.route for r in routed.collect()}

    got = page_pass_stage(sched, CFG).collect()
    assert len(got) == len(PAGES)
    assert {r.url: r.route for r in got} == want_route
    assert {
        r.url: (r.title, r.content_html, r.md_ok) for r in got if r.route == "ok"
    } == want_extract
    assert {r.url for r in got if r.html is not None} == want_html
    assert sorted(
        (r.url, a.kind, a.asset_url, a.asset_pos, a.nbytes, a.fetched)
        for r in got for a in r.assets
    ) == want_assets
    assert sorted(tuple(i) for r in got for i in r.images) == want_images
    assert {r.url: r.memento_result for r in got if r.route == "dead_wayback"} == want_memento
    assert {
        r.url: (r.title, r.content_html, r.md_ok) for r in got if r.memento_result == "ok"
    } == want_mem_extract

    # the fixture reaches every branch the comparison is meant to cover
    assert set(want_route.values()) == {"ok", "retry", "dead_wayback"}
    assert {"ok", "loop", "non_html", "none"} <= set(want_memento.values())
    assert any(md_ok for _, _, md_ok in want_extract.values())
    assert any(title is None for title, _, _ in want_extract.values())  # empty / absent html
    assert any(not fetched for *_, fetched in want_assets) and want_images
    assert want_mem_extract
    routed.unpersist()
    mem.unpersist()


def test_page_pass_parses_each_ok_page_once(monkeypatch):
    """Driver-side: extract, asset discovery, captions and links all
    read one parse of the page."""
    from web_archive_downloader_spark.sources.fetch_shim import process_page

    calls = []
    real = extract_mod._parse

    def counting(html):
        calls.append(html)
        return real(html)

    monkeypatch.setattr(extract_mod, "_parse", counting)
    monkeypatch.setattr(shim, "_parse", counting)
    cfg = dataclasses.replace(CFG, expand_links=True, max_depth=1)
    ok_pages = [u for u in PAGES if u.split("/")[3] in ("rich", "plain")]
    rows = [process_page(u, 1, cfg, fetch=_server) for u in ok_pages]
    assert len(calls) == len(ok_pages)
    assert all(r["route"] == "ok" for r in rows)
    # every scan ran on that parse
    assert any(r["images"] for r in rows) and any(r["links"] for r in rows)
    assert all(r["title"] for r in rows)


# ---- the epoch: jobs, oracle equality, robots + checkpoint, resume -----

RULES = {"ex.com": ["/docs"], "host000.example.org": ["/p/alpha", "/p/eta"]}


def _inputs():
    raw = gen_cdx_records(n_urls=24, seed=5) + gen_cdx_multihost(16, n_hosts=4, seed=5)
    cfg = default_config(
        target_domain="", epoch_seconds=12.0, respect_robots=True, max_retries=2
    )
    oracle_all = run_oracle(raw, cfg, robots=RULES)
    # a previous crawl's checkpoint: every url under a disallowed prefix
    # plus every fifth allowed one
    blocked = [u for u, why in oracle_all.failed if why == "robots_blocked"]
    allowed = [u for u in oracle_all.crawl_order if u not in set(blocked)]
    checkpoint = sorted(set(blocked[::2] + allowed[::5]))
    return raw, cfg, checkpoint


def _store(spark, root, cfg, checkpoint):
    robots = spark.createDataFrame(
        [(h, d, 1.5, 0) for h, d in RULES.items()] + [("host001.example.org", [], 3.0, 0)],
        "host string, disallow array<string>, crawl_delay double, fetched_epoch int",
    )
    store = StateStore(root, spark)
    m = store.read_manifest()
    m["tables"]["robots"] = [store.stage("robots", -1, robots)]
    store._write_manifest(m)
    plan = CrawlPlan(spark, store, cfg)
    plan.seed_checkpoint(spark.createDataFrame(pd.DataFrame({"url": checkpoint})))
    return store, plan


def _order_and_seen(store):
    order = [r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()]
    seen = [
        r.url
        for r in store.read("url_seen", URL_SEEN_SCHEMA)
        .filter(F.col("epoch") >= 0).orderBy("seq").collect()
    ]
    return order, seen


def _count_jobs(spark, plan, out: list):
    """Spark jobs per epoch, counted from the status tracker the way
    the benchmark's epoch clock counts them."""
    tracker = spark.sparkContext.statusTracker()
    orig = plan.run_epoch

    def run_epoch(epoch):
        before = set(tracker.getJobIdsForGroup())
        n, pending = orig(epoch)
        out.append((epoch, n, len(set(tracker.getJobIdsForGroup()) - before)))
        return n, pending

    plan.run_epoch = run_epoch


@pytest.fixture(scope="module")
def fused_crawl(spark, tmp_path_factory):
    raw, cfg, checkpoint = _inputs()
    store, plan = _store(spark, str(tmp_path_factory.mktemp("fused")), cfg, checkpoint)
    jobs: list = []
    _count_jobs(spark, plan, jobs)
    plan.run(cdx_dataframe(spark, raw))
    oracle = run_oracle(raw, cfg, checkpoint=set(checkpoint), robots=RULES)
    return raw, cfg, store, jobs, oracle


def test_robots_checkpoint_matches_oracle(fused_crawl):
    """A checkpointed url under a disallowed prefix is skipped like the
    oracle skips it — J1 drops it before the robots gate could record
    it as robots_blocked."""
    _, _, store, _, oracle = fused_crawl
    order, seen = _order_and_seen(store)
    assert order == oracle.crawl_order
    assert seen == oracle.seen
    blocked = {
        r.url
        for r in store.read("processed", PROCESSED_SCHEMA)
        .filter(F.col("disposition") == "robots_blocked").collect()
    }
    assert blocked == {u for u, why in oracle.failed if why == "robots_blocked"}
    assert blocked  # the gate still blocks unseen urls


def test_epoch_runs_at_most_12_spark_jobs(fused_crawl, spark):
    _, _, store, jobs, oracle = fused_crawl
    busy = [(e, j) for e, n, j in jobs if n > 0]
    assert len(busy) >= 3
    assert max(j for _, j in busy) <= 12, jobs
    # the paths the bound must cover were all on
    assert store.read("html_raw", HTML_RAW_SCHEMA).count() > 0
    assert store.read("images").count() > 0
    assert store.read("docs_raw", DOCS_RAW_SCHEMA).filter(F.col("via") == "memento").count() > 0


def test_kill_and_resume_at_every_epoch_matches_oracle(fused_crawl, spark):
    raw, cfg, store, _, oracle = fused_crawl
    last = store.last_epoch
    for kill in range(last - 1, -2, -1):
        store.truncate_to_epoch(kill)
        CrawlPlan(spark, store, cfg).run(cdx_dataframe(spark, raw), resume=True)
        assert store.last_epoch == last
        assert _order_and_seen(store) == (oracle.crawl_order, oracle.seen), kill
    docs, _ = CrawlPlan(spark, store, cfg).finalize_outputs()
    assert {r.url: r.markdown for r in docs.collect()} == {
        d["url"]: d["markdown"] for d in oracle.docs
    }


def test_every_state_file_carries_the_packed_schema(spark, tmp_path, monkeypatch):
    """Registered tables reach disk only through packed writes, each
    member cast to TABLES: after a checkpoint seed, a robots crawl, a
    kill/resume, compaction and a bucketize, every parquet file under
    the store root but the external robots table's has the footer types
    of the packed union (a bucketed url_seen generation: url_seen's
    alone), the crawl still equals the oracle, and building a read of
    any registered table runs no schema-inference job."""
    import pyarrow.parquet as pq

    from web_archive_downloader_spark.plans import crawl as crawl_mod

    raw, cfg, checkpoint = _inputs()
    root = tmp_path / "layout"
    store, plan = _store(spark, str(root), cfg, checkpoint)
    plan.run(cdx_dataframe(spark, raw))
    store.truncate_to_epoch(1)
    # compaction and a bucketize fire in the resumed leg, over seed and
    # epoch dirs
    monkeypatch.setattr(crawl_mod, "AUTO_COMPACT_MAX_DIRS", 2)
    monkeypatch.setattr(crawl_mod, "AUTO_BUCKETIZE_MIN_ROWS", 24)
    CrawlPlan(spark, store, cfg).run(cdx_dataframe(spark, raw), resume=True)
    oracle = run_oracle(raw, cfg, checkpoint=set(checkpoint), robots=RULES)
    assert _order_and_seen(store) == (oracle.crawl_order, oracle.seen)
    # reads take the registered schema: building them infers nothing
    sc = spark.sparkContext
    sc.setJobGroup("registry_reads", "packed reads")
    try:
        for table in TABLES:
            store.read(table)
        store.read_latest_only("frontier")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("registry_reads")

    arrow = {"string": "string", "int": "int32", "bigint": "int64",
             "double": "double", "binary": "binary"}
    def footer(schema):
        return [(f.name, arrow[f.dataType.simpleString()]) for f in schema.fields]

    files = [p for p in root.rglob("*.parquet") if "robots" not in p.parts]
    assert any("compacted=" in p.parent.name for p in files)
    assert any(p.parent.name.startswith("bucketed=") for p in files)
    drift = {}
    for p in files:
        got = [(f.name, str(f.type)) for f in pq.read_schema(p)]
        bucketed = p.parent.name.startswith("bucketed=")
        if got != footer(TABLES["url_seen"] if bucketed else union_schema(TABLES)):
            drift[str(p.relative_to(root))] = got
    assert not drift, drift


def test_stage_refuses_a_registered_table(spark, tmp_path):
    store = StateStore(str(tmp_path / "st"), spark)
    with pytest.raises(ValueError, match="stage_packed"):
        store.stage("url_seen", 0, spark.createDataFrame([], URL_SEEN_SCHEMA))


def test_packed_union_refuses_a_column_with_two_types():
    """The packed write's union schema is derived from the table
    registry. One packed column cannot hold two types, so two members
    that disagree on a column's type make the derivation raise."""

    def member(seq_type):
        return T.StructType(
            [T.StructField("url", T.StringType()), T.StructField("seq", seq_type)]
        )

    with pytest.raises(ValueError, match="packed column seq"):
        union_schema({"a": member(T.LongType()), "b": member(T.IntegerType())})
    assert union_schema({"a": member(T.LongType()), "b": member(T.LongType())}).names == [
        "_table", "url", "seq",
    ]
    # every registered column appears once in the registry's own union
    packed = union_schema(TABLES)
    assert sorted(packed.names[1:]) == sorted({c for s in TABLES.values() for c in s.names})
