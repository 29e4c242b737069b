"""Kill-and-resume: truncate state to an earlier epoch snapshot,
re-run, and require identical downstream outputs + ordering
(BASELINE.json:6,14). Also checkpoint-skip semantics (main.py:62-64).
"""

from web_archive_downloader_spark.datagen import default_config, gen_cdx_records
from web_archive_downloader_spark.oracle.simulator import run_oracle
from web_archive_downloader_spark.plans.crawl import (
    URL_SEEN_SCHEMA,
    CrawlPlan,
    PROCESSED_SCHEMA,
)
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import StateStore

N = 30


def _run_full(spark, store_dir, cfg, raw):
    store = StateStore(store_dir, spark)
    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw))
    docs, assets = plan.finalize_outputs()
    return store, plan, docs, assets


def _snapshot(store, docs, assets):
    order = [r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()]
    seen = [r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).orderBy("seq").collect()]
    doc_rows = sorted(
        (r.url, r.ts, r.via, r.title, r.dir, r.filename, r.markdown) for r in docs.collect()
    )
    asset_rows = sorted(
        (r.page_url, r.asset_url, r.dir, r.filename) for r in assets.collect()
    )
    return order, seen, doc_rows, asset_rows


def test_stage_packed_rejects_schema_drift(spark, tmp_path):
    """stage_packed must refuse a member df whose columns do not
    exactly match the registry — silently null-filling a missing
    member column would mask schema drift as all-null state rows."""
    import pytest
    from pyspark.sql import functions as F

    store = StateStore(str(tmp_path / "st"), spark)
    good = spark.createDataFrame(
        [("https://e.com/a", 1, 0)], "url string, seq long, epoch int"
    )
    store.stage_packed(0, {"url_seen": good})

    # missing column (renamed seq -> sequence)
    with pytest.raises(ValueError, match="url_seen.*missing.*seq"):
        store.stage_packed(
            1, {"url_seen": good.withColumnRenamed("seq", "sequence")}
        )
    # unexpected extra column
    with pytest.raises(ValueError, match="unexpected.*extra"):
        store.stage_packed(1, {"url_seen": good.withColumn("extra", F.lit(1))})


def test_kill_and_resume_identical(spark, tmp_path):
    raw = gen_cdx_records(n_urls=N, seed=11)
    cfg = default_config(epoch_seconds=20.0, max_retries=2)  # small budget -> several epochs

    store, plan, docs, assets = _run_full(spark, str(tmp_path / "a"), cfg, raw)
    full = _snapshot(store, docs, assets)
    n_epochs = store.last_epoch
    assert n_epochs >= 3

    # simulate a kill after epoch k: roll the manifest back; orphan
    # later-epoch data dirs stay on disk but are never read
    kill_at = n_epochs // 2
    store.truncate_to_epoch(kill_at)
    plan2 = CrawlPlan(spark, store, cfg)
    plan2.run(cdx_dataframe(spark, raw), resume=True)
    docs2, assets2 = plan2.finalize_outputs()
    resumed = _snapshot(store, docs2, assets2)

    assert resumed[0] == full[0]  # crawl order
    assert resumed[1] == full[1]  # seen order
    assert resumed[2] == full[2]  # doc bytes
    assert resumed[3] == full[3]  # asset names


def test_compaction_preserves_state_and_resume(spark, tmp_path):
    """Compaction, both entry points, in ONE crawl (merged from two
    separate full-crawl tests — same coverage, one multi-epoch run):
    the first leg runs its first 2 epochs with AUTO_COMPACT_MAX_DIRS=1
    (the IN-LOOP path fires mid-crawl), is stopped after 3 epochs,
    manually compacted again (the explicit API path: identical rows
    before/after, rollback past the floor refused — Iceberg
    snapshot-expiry), then resumed to completion and compared to the
    oracle exactly (order, seen, doc bytes)."""
    import pytest
    from web_archive_downloader_spark.plans import crawl as crawl_mod
    from web_archive_downloader_spark.plans.crawl import URL_SEEN_SCHEMA

    raw = gen_cdx_records(n_urls=30, seed=17)
    cfg = default_config(epoch_seconds=20.0, max_retries=2)

    # run midway (in-loop compaction fires at epoch 1, when the packed
    # table lists 2 dirs), compact again explicitly, resume to completion
    store = StateStore(str(tmp_path / "c"), spark)
    plan = CrawlPlan(spark, store, cfg)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl_mod, "AUTO_COMPACT_MAX_DIRS", 1)
        plan.run(cdx_dataframe(spark, raw), max_epochs=2)
    plan.run(cdx_dataframe(spark, raw), max_epochs=3)
    paths = store.read_manifest()["tables"]["__state__"]
    assert any("compacted=" in p for p in paths)  # in-loop leg ran
    before = sorted(
        (r.url, r.seq) for r in store.read("url_seen", URL_SEEN_SCHEMA).collect()
    )
    n_dirs = store.compact()  # url_seen lives in the packed state table
    assert n_dirs >= 2
    after = sorted(
        (r.url, r.seq) for r in store.read("url_seen", URL_SEEN_SCHEMA).collect()
    )
    assert after == before
    with pytest.raises(ValueError, match="compacted"):
        store.truncate_to_epoch(0)

    plan2 = CrawlPlan(spark, store, cfg)
    plan2.run(cdx_dataframe(spark, raw), resume=True)
    docs2, _ = plan2.finalize_outputs()
    oracle = run_oracle(raw, cfg)
    got = {r.url: (r.title, r.dir, r.filename, r.markdown) for r in docs2.collect()}
    exp = {d["url"]: (d["title"], d["dir"], d["filename"], d["markdown"]) for d in oracle.docs}
    assert got == exp
    seen = [r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).orderBy("seq").collect()]
    assert seen == oracle.seen


def test_checkpoint_skip(spark, tmp_path):
    """Pre-seeded url_seen rows are skipped exactly like the
    reference's checkpoint (main.py:62-64): not refetched, not in
    crawl order, but present in final seen set."""
    raw = gen_cdx_records(n_urls=N, seed=11)
    cfg = default_config(epoch_seconds=60.0, max_retries=2)

    # take some urls that WOULD be crawled, pretend they're done
    oracle_all = run_oracle(raw, cfg)
    pre = set(oracle_all.crawl_order[::7])
    oracle = run_oracle(raw, cfg, checkpoint=pre)

    store = StateStore(str(tmp_path / "b"), spark)
    plan = CrawlPlan(spark, store, cfg)
    # seed url_seen + bloom with the checkpoint before running
    import pandas as pd

    pre_df = spark.createDataFrame(
        pd.DataFrame({"url": sorted(pre), "seq": range(-len(pre), 0), "epoch": -1}),
        schema=URL_SEEN_SCHEMA,
    )
    plan.seed_checkpoint(pre_df)

    plan.run(cdx_dataframe(spark, raw))
    got_order = [
        r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
    ]
    assert got_order == oracle.crawl_order
    got_seen = {r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).collect()}
    assert got_seen == oracle.seen_set | pre
