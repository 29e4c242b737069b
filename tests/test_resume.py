"""Kill-and-resume: truncate state to an earlier epoch snapshot,
re-run, and require identical downstream outputs + ordering
(BASELINE.json:6,14), also from a store another process wrote at
another parallelism. Also checkpoint-skip semantics (main.py:62-64).
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest

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
ROOT = Path(__file__).resolve().parent.parent

# A crawl of gen_cdx_records(30, seed=17) at local[1], stopped after 3
# epochs. argv: store root, bucketize_seen_every_epochs, warehouse dir.
KILLED_WRITER = """
import sys
from web_archive_downloader_spark.datagen import default_config, gen_cdx_records
from web_archive_downloader_spark.plans.crawl import CrawlPlan
from web_archive_downloader_spark.session import get_spark
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import StateStore

root, every, warehouse = sys.argv[1], int(sys.argv[2]), sys.argv[3]
spark = get_spark("killed-writer", cores=1, extra_conf={"spark.sql.warehouse.dir": warehouse})
cfg = default_config(epoch_seconds=20.0, max_retries=2, bucketize_seen_every_epochs=every)
raw = gen_cdx_records(n_urls=30, seed=17)
CrawlPlan(spark, StateStore(root, spark), cfg).run(cdx_dataframe(spark, raw), max_epochs=3)
spark.stop()
"""


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


@pytest.mark.parametrize("every", [0, 2], ids=["unbucketized", "bucketized"])
def test_resume_in_a_new_process_at_another_parallelism(spark, tmp_path, every):
    """A crawl killed after 3 epochs in a local[1] process resumes in
    this session, at SPARK_GRAFT_CPUS cores, to the oracle's crawl
    order, url_seen and docs: everything the resume reads lives under
    the store root, bucketed url_seen generations included (keyed state
    outlives a change in worker count, as in Megaphone, VLDB 2019)."""
    root = str(tmp_path / "store")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEM="1g",
    )
    writer = subprocess.run(
        [sys.executable, "-c", KILLED_WRITER, root, str(every), str(tmp_path / "warehouse")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert writer.returncode == 0, writer.stderr[-4000:]

    raw = gen_cdx_records(n_urls=30, seed=17)
    cfg = default_config(epoch_seconds=20.0, max_retries=2, bucketize_seen_every_epochs=every)
    store = StateStore(root, spark)
    assert store.last_epoch == 2
    assert bool(store._bucketed_gens(store.read_manifest(), "url_seen")) == bool(every)
    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw), resume=True)
    docs, assets = plan.finalize_outputs()
    order, seen, _, _ = _snapshot(store, docs, assets)
    oracle = run_oracle(raw, cfg)
    assert order == oracle.crawl_order
    assert seen == oracle.seen
    got = {r.url: (r.title, r.dir, r.filename, r.markdown) for r in docs.collect()}
    exp = {d["url"]: (d["title"], d["dir"], d["filename"], d["markdown"]) for d in oracle.docs}
    assert got == exp
    store.destroy()


def test_compaction_writes_one_file_for_a_small_store(spark, tmp_path):
    """compact sizes its write from the bytes of the dirs it merges: a
    few KB of state in three dirs, each of several files, comes out as
    one file, not one per member and input split."""
    store = StateStore(str(tmp_path / "cf"), spark)
    for e in range(3):
        rows = [(f"https://e.com/{e}/{i}", 10 * e + i, e) for i in range(10)]
        seen = spark.createDataFrame(rows, URL_SEEN_SCHEMA).repartition(3)
        processed = seen.selectExpr("url", "seq", "'ok' AS disposition", "epoch")
        path = store.stage_packed(e, {"url_seen": seen, "processed": processed})
        store.commit(e, {"url_seen": path, "processed": path})
    before = sorted(store.read("url_seen").collect()), sorted(store.read("processed").collect())
    assert store.compact() == 3
    [merged] = store.read_manifest()["tables"]["__state__"]
    assert len([f for f in os.listdir(merged) if f.endswith(".parquet")]) == 1
    after = sorted(store.read("url_seen").collect()), sorted(store.read("processed").collect())
    assert after == before


def test_compaction_preserves_state_and_resume(spark, tmp_path):
    """Compaction, both entry points, in ONE crawl (merged from two
    separate full-crawl tests — same coverage, one multi-epoch run):
    the first leg runs its first 2 epochs with AUTO_COMPACT_MAX_DIRS=1
    (the IN-LOOP path fires mid-crawl), is stopped after 3 epochs,
    manually compacted again (the explicit API path: identical rows
    before/after, rollback past the floor refused — Iceberg
    snapshot-expiry), then resumed to completion and compared to the
    oracle exactly (order, seen, doc bytes)."""
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


def _seen_rows(spark, urls, first_seq, epoch):
    rows = [(u, first_seq + i, epoch) for i, u in enumerate(urls)]
    return spark.createDataFrame(rows, URL_SEEN_SCHEMA)


def _seen_urls(store):
    return sorted(r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).collect())


def test_commit_seed_dirs_follow_truncate_to_epoch(spark, tmp_path):
    """A seed committed between epochs is read with the epoch it was
    committed at: a rollback to that epoch keeps it, a rollback past
    it drops it, and an epoch's own rows go with the epoch."""
    store = StateStore(str(tmp_path / "st"), spark)
    path = store.stage_packed(0, {"url_seen": _seen_rows(spark, ["https://e.com/e0"], 0, 0)})
    store.commit(0, {"url_seen": path})
    store.commit_seed({"url_seen": _seen_rows(spark, ["https://e.com/s0"], -1, -1)})
    path = store.stage_packed(1, {"url_seen": _seen_rows(spark, ["https://e.com/e1"], 1, 1)})
    store.commit(1, {"url_seen": path})
    store.commit_seed({"url_seen": _seen_rows(spark, ["https://e.com/s1"], -2, -1)})
    assert store.last_epoch == 1
    assert _seen_urls(store) == [
        "https://e.com/e0", "https://e.com/e1", "https://e.com/s0", "https://e.com/s1",
    ]

    store.truncate_to_epoch(0)
    assert store.last_epoch == 0
    assert _seen_urls(store) == ["https://e.com/e0", "https://e.com/s0"]


def test_commit_seed_crash_before_the_swap_is_never_read(spark, tmp_path, monkeypatch):
    """A seed whose manifest swap fails leaves its written dir as an
    orphan that no read lists; the retried seed lands in a fresh dir
    beside it and is read exactly once."""
    store = StateStore(str(tmp_path / "st"), spark)
    path = store.stage_packed(0, {"url_seen": _seen_rows(spark, ["https://e.com/e0"], 0, 0)})
    store.commit(0, {"url_seen": path})
    before = store.read_manifest()
    seed = {"url_seen": _seen_rows(spark, ["https://e.com/seed"], -1, -1)}

    def crash(manifest):
        raise OSError("killed before the manifest swap")

    with monkeypatch.context() as mp:
        mp.setattr(store, "_write_manifest", crash)
        with pytest.raises(OSError, match="manifest swap"):
            store.commit_seed(seed)
    orphan = os.path.join(str(tmp_path / "st"), "__state__", "seed=0")
    assert os.path.isdir(orphan)
    assert store.read_manifest() == before
    assert _seen_urls(store) == ["https://e.com/e0"]

    store.commit_seed(seed)
    assert orphan not in store.read_manifest()["tables"]["url_seen"]
    assert _seen_urls(store) == ["https://e.com/e0", "https://e.com/seed"]


def test_resume_ignores_a_legacy_ingested_batches_ledger(spark, tmp_path):
    """Stores written while the manifest kept an ``ingested_batches``
    ledger still carry the key; a rollback and a resume over such a
    store ignore it and reach the oracle's crawl order and url_seen."""
    import json

    raw = gen_cdx_records(n_urls=30, seed=17)
    cfg = default_config(epoch_seconds=20.0, max_retries=2)
    store = StateStore(str(tmp_path / "legacy"), spark)
    CrawlPlan(spark, store, cfg).run(cdx_dataframe(spark, raw), max_epochs=3)
    manifest = store.read_manifest()
    manifest["ingested_batches"] = {"0": manifest["tables"]["frontier"][-1]}
    with open(os.path.join(store.root, "_manifest.json"), "w") as f:
        json.dump(manifest, f)

    store.truncate_to_epoch(1)
    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw), resume=True)
    oracle = run_oracle(raw, cfg)
    order = [r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()]
    seen = [r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).orderBy("seq").collect()]
    assert order == oracle.crawl_order
    assert seen == oracle.seen
