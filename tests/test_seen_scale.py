"""J1 at scale: bounded Bloom state (versioned sketches, saturation
cap, pid-pruned cogrouped probe — no O(seen) broadcast) and the
bucketed url_seen base as the default anti-join path (storage-
partitioned: the big side never shuffles after bucketize). The base's
generations live in ``bucketed=`` dirs under the store root, listed by
the manifest, and every read reaches them through ``store.read_parts``;
nothing is written to the session's warehouse."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from web_archive_downloader_spark.datagen import default_config, gen_cdx_records
from web_archive_downloader_spark.operators import seen as seen_mod
from web_archive_downloader_spark.operators.seen import (
    BLOOM_VERSION,
    BloomSketch,
    anti_join_unseen,
    bloom_prefilter_cogrouped,
    build_bloom_sketches,
    unseen_with_bloom_state,
)
from web_archive_downloader_spark.oracle.simulator import run_oracle
from web_archive_downloader_spark.plans import crawl as crawl_mod
from web_archive_downloader_spark.plans.crawl import (
    PROCESSED_SCHEMA,
    URL_SEEN_SCHEMA,
    CrawlPlan,
)
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import StateStore


def _urls_df(spark, lo, hi, name="url"):
    return spark.createDataFrame(
        pd.DataFrame({name: [f"https://e.com/p{i}" for i in range(lo, hi)]})
    )


def _seen_df(spark, lo, hi):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"https://e.com/p{i}" for i in range(lo, hi)],
                "seq": list(range(lo, hi)),
                "epoch": [0] * (hi - lo),
            }
        ),
        URL_SEEN_SCHEMA,
    )


def _commit_seen(store, epoch, df):
    store.commit(epoch, {"url_seen": store.stage_packed(epoch, {"url_seen": df})})


def test_cogroup_probe_equals_broadcast(spark, monkeypatch):
    """The pid-pruned cogrouped probe must route exactly like the
    broadcast probe — same exactly-unseen output — while never
    collecting or broadcasting the sketch dict."""
    seen = _seen_df(spark, 0, 1000)
    frontier = _urls_df(spark, 500, 2500)
    sketch_df = build_bloom_sketches(seen, 8, 256).localCheckpoint()

    out_bc, mode_bc = unseen_with_bloom_state(frontier, seen, sketch_df, 8, spark)
    monkeypatch.setattr(seen_mod, "BLOOM_BROADCAST_MAX_BYTES", 0)
    out_cg, mode_cg = unseen_with_bloom_state(frontier, seen, sketch_df, 8, spark)
    assert mode_bc == "broadcast" and mode_cg == "cogroup"
    exp = sorted(f"https://e.com/p{i}" for i in range(1000, 2500))
    assert sorted(r.url for r in out_bc.collect()) == exp
    assert sorted(r.url for r in out_cg.collect()) == exp
    # the cogroup plan carries the sketch table via a cogrouped map —
    # no broadcast exchange of sketch state anywhere
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out_cg.explain("formatted")
    assert "FlatMapCoGroupsInPandas" in buf.getvalue()


def test_unknown_sketch_version_disables_bloom(spark):
    """Sketches persisted by a different probe scheme (cross-version
    resume) must NOT be probed — false negatives would re-crawl seen
    URLs. The engine detects the version relationally and falls back
    to the pure exact anti-join."""
    import numpy as np

    seen = _seen_df(spark, 0, 200)
    frontier = _urls_df(spark, 0, 400)
    # a round-2-format blob: 16-byte (n_bits, k) header, no magic
    legacy_blob = np.array([1024, 4], np.int64).tobytes() + bytes(128)
    sketch_df = spark.createDataFrame(
        [(0, bytearray(legacy_blob), None, None)],
        "partition_id int, sketch binary, version int, n_partitions int",
    )
    out, mode = unseen_with_bloom_state(frontier, seen, sketch_df, 8, spark)
    assert mode == "exact"
    assert sorted(r.url for r in out.collect()) == sorted(
        f"https://e.com/p{i}" for i in range(200, 400)
    )
    # and the blob itself refuses deserialization outright
    with pytest.raises(ValueError, match="magic/version"):
        BloomSketch.from_bytes(legacy_blob)


def test_changed_seen_partitions_disables_bloom(spark):
    """Sketches persist pid = pmod(xxhash64(url), P) at BUILD time; a
    resume with a different seen_partitions would probe the wrong
    pids' sketches — false negatives — so the build-time P is stamped
    per row and a mismatch routes everything to the exact anti-join,
    same as the bad-version fallback."""
    seen = _seen_df(spark, 0, 500)
    frontier = _urls_df(spark, 0, 1000)
    sketch_df = build_bloom_sketches(seen, 8, 256).localCheckpoint()

    # same P as build: bloom engages
    _, mode_same = unseen_with_bloom_state(frontier, seen, sketch_df, 8, spark)
    assert mode_same == "broadcast"

    # changed P (8 -> 4): exact-only, output still exactly-unseen
    out, mode = unseen_with_bloom_state(frontier, seen, sketch_df, 4, spark)
    assert mode == "exact"
    assert sorted(r.url for r in out.collect()) == sorted(
        f"https://e.com/p{i}" for i in range(500, 1000)
    )

    # a pre-stamping sketch row (n_partitions reads as null) is
    # equally untrustworthy -> exact
    legacy = sketch_df.withColumn("n_partitions", F.lit(None).cast("int"))
    _, mode_legacy = unseen_with_bloom_state(frontier, seen, legacy, 8, spark)
    assert mode_legacy == "exact"


def test_saturated_sketch_bounds_bytes_and_stays_exact(spark):
    """Per-sketch capacity cap: a pid whose rows would need more than
    max_bits saturates — every blob stays <= 32 + max_bits/8 bytes and
    saturated pids route everything through the exact anti-join
    (correct, never false-negative)."""
    seen = _seen_df(spark, 0, 5000)
    rows = build_bloom_sketches(
        seen, 4, expected_per_partition=64, max_bits_per_sketch=1024
    ).collect()
    assert rows and all(len(bytes(r.sketch)) <= 32 + 1024 // 8 for r in rows)
    sks = [BloomSketch.from_bytes(bytes(r.sketch)) for r in rows]
    assert any(s.saturated for s in sks)
    frontier = _urls_df(spark, 4000, 6000)
    sketch_df = build_bloom_sketches(
        seen, 4, 64, max_bits_per_sketch=1024
    ).localCheckpoint()
    out, _ = unseen_with_bloom_state(frontier, seen, sketch_df, 4, spark)
    assert sorted(r.url for r in out.collect()) == sorted(
        f"https://e.com/p{i}" for i in range(5000, 6000)
    )


def test_bucketized_crawl_matches_oracle_and_resumes(spark, tmp_path):
    """The default-at-scale J1 path: bucketize_seen_every_epochs folds
    url_seen into bucketed generation dirs mid-crawl. The crawl must
    match the oracle exactly, resume cleanly from the post-bucketize
    manifest, and refuse rollback past the merge point."""
    raw = gen_cdx_records(n_urls=30, seed=17)
    cfg = default_config(
        epoch_seconds=20.0, max_retries=2, bucketize_seen_every_epochs=2
    )
    oracle = run_oracle(raw, cfg)

    store = StateStore(str(tmp_path / "bk"), spark)
    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw), max_epochs=3)
    manifest = store.read_manifest()
    assert "url_seen" in manifest.get("bucketed", {})
    bases, delta = store.read_parts("url_seen", URL_SEEN_SCHEMA)
    assert bases
    floor = manifest["compaction_floor"]["url_seen"]
    with pytest.raises(ValueError, match="compacted"):
        store.truncate_to_epoch(floor - 1)

    # resume from the committed snapshot to completion
    plan2 = CrawlPlan(spark, store, cfg)
    plan2.run(cdx_dataframe(spark, raw), resume=True)
    docs, _ = plan2.finalize_outputs()
    order = [
        r.url
        for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
    ]
    assert order == oracle.crawl_order
    seen = [
        r.url for r in store.read("url_seen", URL_SEEN_SCHEMA).orderBy("seq").collect()
    ]
    assert seen == oracle.seen
    got = {r.url: (r.title, r.dir, r.filename, r.markdown) for r in docs.collect()}
    exp = {d["url"]: (d["title"], d["dir"], d["filename"], d["markdown"]) for d in oracle.docs}
    assert got == exp
    store.destroy()


def test_bucketizing_crawl_writes_only_under_its_root(spark, tmp_path):
    """Bucketed generations are external tables over dirs under the
    store root: a bucketizing crawl puts nothing in the session's
    warehouse, and destroy() leaves neither files nor a catalog table."""
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def listing():
        return set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()

    files_before = listing()
    tables_before = {t.name for t in spark.catalog.listTables()}
    raw = gen_cdx_records(n_urls=12, seed=3)
    cfg = default_config(epoch_seconds=20.0, max_retries=2, bucketize_seen_every_epochs=1)
    store = StateStore(str(tmp_path / "wh"), spark)
    CrawlPlan(spark, store, cfg).run(cdx_dataframe(spark, raw), max_epochs=3)
    assert store._bucketed_gens(store.read_manifest(), "url_seen")
    assert store.read("url_seen").count() > 0
    assert listing() == files_before
    store.destroy()
    assert listing() == files_before
    assert {t.name for t in spark.catalog.listTables()} == tables_before
    assert not os.path.exists(store.root)


def test_bucketized_base_joins_without_big_side_shuffle(spark, tmp_path):
    """After bucketize, the anti-join against the base must be
    storage-partitioned: the bucketed scan feeds the join directly
    (Bucketed: true, exactly one Exchange — the probe side)."""
    import io
    import re
    from contextlib import redirect_stdout

    store = StateStore(str(tmp_path / "bj"), spark)
    _commit_seen(store, 0, _seen_df(spark, 0, 4000).repartition(4))
    store.bucketize(buckets=8)
    [base], _ = store.read_parts("url_seen", URL_SEEN_SCHEMA)
    frontier = _urls_df(spark, 3000, 5000)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = anti_join_unseen(frontier, base)
        assert sorted(r.url for r in out.collect()) == sorted(
            f"https://e.com/p{i}" for i in range(4000, 5000)
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "Bucketed: true" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        store.destroy()


def test_auto_scale_posture_triggers_and_matches_oracle(spark, tmp_path, monkeypatch):
    """DEFAULT-config scale posture: with bucketize unset (None = auto),
    a crawl whose seen rows pass AUTO_BUCKETIZE_MIN_ROWS
    bucketizes ITSELF mid-crawl (threshold shrunk here so a small
    fixture trips it) and still matches the oracle exactly."""
    raw = gen_cdx_records(n_urls=25, seed=19)
    # threshold sized to fire ~twice over the ~30 seen rows (firing
    # every epoch would triple the test's bucketize+compact cost)
    monkeypatch.setattr(crawl_mod, "AUTO_BUCKETIZE_MIN_ROWS", 12)
    cfg = default_config(epoch_seconds=20.0, max_retries=2)
    assert cfg.bucketize_seen_every_epochs is None  # auto is the default
    oracle = run_oracle(raw, cfg)

    store = StateStore(str(tmp_path / "ap"), spark)
    plan = CrawlPlan(spark, store, cfg)
    plan.run(cdx_dataframe(spark, raw))
    manifest = store.read_manifest()
    assert store._bucketed_gens(manifest, "url_seen")  # fired by itself
    docs, _ = plan.finalize_outputs()
    order = [
        r.url
        for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
    ]
    assert order == oracle.crawl_order
    got = {r.url: (r.title, r.dir, r.filename, r.markdown) for r in docs.collect()}
    exp = {
        d["url"]: (d["title"], d["dir"], d["filename"], d["markdown"])
        for d in oracle.docs
    }
    assert got == exp
    store.destroy()


def test_incremental_bucketize_writes_only_deltas(spark, tmp_path):
    """Each bucketize call after the first writes O(delta) rows into a
    NEW generation dir — never a rewrite of the full base (the
    write-amplification killer at a 10^10-row seen set). The chain
    merges into one generation only when it exceeds merge_at, and the
    merged generations' dirs are removed."""
    store = StateStore(str(tmp_path / "ib"), spark)
    _commit_seen(store, 0, _seen_df(spark, 0, 1000))
    n1 = store.bucketize(buckets=4)
    [b1], _ = store.read_parts("url_seen")
    assert b1.count() == 1000

    _commit_seen(store, 1, _seen_df(spark, 1000, 1100))
    n2 = store.bucketize(buckets=4)
    # the second generation holds ONLY the 100 delta rows
    bases, _ = store.read_parts("url_seen")
    assert [b.count() for b in bases] == [1000, 100]
    gens = store.read_manifest()["bucketed"]["url_seen"]
    assert [g["path"] for g in gens] == [n1, n2]
    # full-relation read still sees every row exactly once
    assert store.read("url_seen", URL_SEEN_SCHEMA).count() == 1100
    # chained anti-join across generations is still exact
    bases, delta = store.read_parts("url_seen", URL_SEEN_SCHEMA)
    assert len(bases) == 2
    out = anti_join_unseen(_urls_df(spark, 1050, 1200), bases + [delta])
    assert sorted(r.url for r in out.collect()) == sorted(
        f"https://e.com/p{i}" for i in range(1100, 1200)
    )

    # nothing new -> no-op, returns newest generation
    assert store.bucketize(buckets=4) == n2

    # chain bound: merge_at=2 folds everything into ONE generation
    _commit_seen(store, 2, _seen_df(spark, 1100, 1150))
    n3 = store.bucketize(buckets=4, merge_at=2)
    gens = store.read_manifest()["bucketed"]["url_seen"]
    assert len(gens) == 1 and gens[0]["path"] == n3
    [b3], _ = store.read_parts("url_seen")
    assert b3.count() == 1150
    assert not os.path.exists(n1) and not os.path.exists(n2)
    assert store.read("url_seen", URL_SEEN_SCHEMA).count() == 1150
    store.destroy()


def test_generation_chain_anti_join_single_exchange(spark, tmp_path):
    """With TWO bucketed generations, the chained anti-join keeps both
    bucketed scans Exchange-free and reuses the probe side's first
    shuffle: exactly one Exchange in the whole chain."""
    import io
    import re
    from contextlib import redirect_stdout

    store = StateStore(str(tmp_path / "gc"), spark)
    _commit_seen(store, 0, _seen_df(spark, 0, 3000))
    store.bucketize(buckets=8)
    _commit_seen(store, 1, _seen_df(spark, 3000, 4000))
    store.bucketize(buckets=8)
    bases, delta = store.read_parts("url_seen", URL_SEEN_SCHEMA)
    assert len(bases) == 2
    frontier = _urls_df(spark, 2000, 5000)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = anti_join_unseen(frontier, bases + [delta])
        assert sorted(r.url for r in out.collect()) == sorted(
            f"https://e.com/p{i}" for i in range(4000, 5000)
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        # AQE prints final + initial plans; judge the EXECUTED one
        final = plan.split("== Initial Plan ==")[0]
        assert sum("Exchange" in l for l in final.splitlines()) == 1
        scan_ids = re.findall(r"Scan parquet \S*url_seen\S* \((\d+)\)", final)
        assert len(scan_ids) == 2  # both generations scanned in-plan
        for sid in scan_ids:
            block = re.search(
                rf"\({sid}\) Scan parquet.*?(?=\n\(\d+\)|\Z)", plan, re.S
            ).group(0)
            assert "Bucketed: true" in block
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        store.destroy()


def test_full_j1_chain_plan_shape(spark, tmp_path, monkeypatch):
    """The whole J1 chain at scale settings — cogrouped Bloom probe
    feeding the bucketed-base anti-join then the delta anti-join —
    keeps the bucketed scan Exchange-free: only the probe and delta
    sides shuffle."""
    import io
    import re
    from contextlib import redirect_stdout

    store = StateStore(str(tmp_path / "fc"), spark)
    seen = _seen_df(spark, 0, 4000)
    _commit_seen(store, 0, seen)
    store.bucketize(buckets=8)
    [base], delta = store.read_parts("url_seen", URL_SEEN_SCHEMA)
    frontier = _urls_df(spark, 3000, 6000)
    sketches = build_bloom_sketches(seen, 8, 256).localCheckpoint()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        monkeypatch.setattr(seen_mod, "BLOOM_BROADCAST_MAX_BYTES", 0)
        out, mode = unseen_with_bloom_state(frontier, [base, delta], sketches, 8, spark)
        assert mode == "cogroup"
        assert sorted(r.url for r in out.collect()) == sorted(
            f"https://e.com/p{i}" for i in range(4000, 6000)
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "FlatMapCoGroupsInPandas" in plan
        assert "Bucketed: true" in plan
        # the bucketed scan's join input carries no Exchange: every
        # Exchange in the plan sits on probe/delta/cogroup subtrees —
        # assert by checking the scan line is NOT preceded (tree-wise,
        # i.e. later in formatted output within its join branch) by an
        # Exchange between it and the join. Cheap textual proxy: the
        # line pattern "Exchange" never appears with the bucketed
        # table name below it in the same branch — instead assert the
        # scan node id appears as a DIRECT SortMergeJoin child.
        m = re.search(r":- +SortMergeJoin LeftAnti.*\n(.*\n)*?.*Scan parquet.*url_seen_", plan)
        assert m is not None
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        store.destroy()


def test_p_change_resume_rebuilds_bloom_within_one_epoch(spark, tmp_path):
    """Round-4 verdict task 3: a resume with a CHANGED seen_partitions
    finds P-mismatched sketches, runs the exact anti-join for that ONE
    epoch, and the forced bucketize+rebuild restores the Bloom
    prefilter at the new P for every following epoch — never
    exact-mode-forever — with outputs identical to an unchanged-P run
    (the oracle)."""
    from web_archive_downloader_spark.operators.seen import sketch_stats

    raw = gen_cdx_records(n_urls=32, seed=23)
    cfg8 = default_config(epoch_seconds=20.0, max_retries=2, seen_partitions=8)
    oracle = run_oracle(raw, cfg8)

    store = StateStore(str(tmp_path / "pc"), spark)
    CrawlPlan(spark, store, cfg8).run(cdx_dataframe(spark, raw), max_epochs=2)
    assert store.last_epoch == 1  # crawl genuinely unfinished

    # resume with P changed 8 -> 4: the persisted sketches' stamped
    # build-time P no longer matches
    cfg4 = default_config(epoch_seconds=20.0, max_retries=2, seen_partitions=4)
    plan2 = CrawlPlan(spark, store, cfg4)
    plan2.run(cdx_dataframe(spark, raw), max_epochs=3, resume=True)
    assert plan2.last_bloom_mode == "exact"  # the one detection epoch
    # the forced bucketize fired and the rebuilt sketch set is clean at
    # the new P
    assert store._bucketed_gens(store.read_manifest(), "url_seen")
    st = sketch_stats(store.read("bloom"), 4)
    assert st["n"] > 0 and st["bad"] == 0

    # run out; every following epoch is back on the prefilter (the
    # final epoch's mode is observable) and outputs are identical to
    # the unchanged-P oracle
    plan2.run(cdx_dataframe(spark, raw), resume=True)
    assert plan2.last_bloom_mode in ("broadcast", "cogroup")
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
    store.destroy()


def test_bucketize_empty_delta_honors_geometry_change(spark, tmp_path):
    """ADVICE r4: bucketize with NO pending deltas must still
    re-bucketize when the requested bucket count differs from the
    existing chain's — a seen_partitions config change takes effect
    immediately, not silently on the next delta-carrying call."""
    store = StateStore(str(tmp_path / "gm"), spark)
    _commit_seen(store, 0, _seen_df(spark, 0, 500))
    n1 = store.bucketize(buckets=8)
    # no new deltas; same geometry -> no-op returning the newest gen
    assert store.bucketize(buckets=8) == n1
    # no new deltas; CHANGED buckets -> merged re-bucketize now
    n2 = store.bucketize(buckets=4)
    assert n2 != n1
    manifest = store.read_manifest()
    gens = store._bucketed_gens(manifest, "url_seen")
    assert [g["path"] for g in gens] == [n2]
    assert gens[0]["buckets"] == 4
    [base], _ = store.read_parts("url_seen")
    assert base.count() == 500
    store.destroy()


def test_p_change_with_existing_bucketized_base(spark, tmp_path):
    """The at-scale P-change shape: a bucketized generation ALREADY
    exists at the old P when the resume arrives with a new
    seen_partitions — the forced bucketize must merge the chain to
    the NEW geometry (not append an incompatible generation), the
    sketch set rebuilds at the new P, and outputs stay
    oracle-identical."""
    from web_archive_downloader_spark.operators.seen import sketch_stats

    raw = gen_cdx_records(n_urls=40, seed=29)
    cfg8 = default_config(
        epoch_seconds=20.0, max_retries=2, seen_partitions=8,
        bucketize_seen_every_epochs=2,
    )
    oracle = run_oracle(raw, cfg8)

    store = StateStore(str(tmp_path / "pb"), spark)
    CrawlPlan(spark, store, cfg8).run(cdx_dataframe(spark, raw), max_epochs=3)
    gens = store._bucketed_gens(store.read_manifest(), "url_seen")
    assert gens and gens[0]["buckets"] == 8  # base exists at old P
    assert store.last_epoch == 2

    cfg4 = default_config(
        epoch_seconds=20.0, max_retries=2, seen_partitions=4,
        bucketize_seen_every_epochs=2,
    )
    plan2 = CrawlPlan(spark, store, cfg4)
    plan2.run(cdx_dataframe(spark, raw), max_epochs=4, resume=True)
    assert plan2.last_bloom_mode == "exact"  # detection epoch
    gens = store._bucketed_gens(store.read_manifest(), "url_seen")
    # geometry-mismatch merge: ONE generation at the new bucket count
    assert [g["buckets"] for g in gens] == [4]
    st = sketch_stats(store.read("bloom"), 4)
    assert st["n"] > 0 and st["bad"] == 0

    plan2.run(cdx_dataframe(spark, raw), resume=True)
    assert plan2.last_bloom_mode in ("broadcast", "cogroup")
    order = [
        r.url
        for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()
    ]
    assert order == oracle.crawl_order
    store.destroy()
