"""Unit tests: collision naming replay (W2), Bloom+anti-join seen set
(J1), salted per-host top-k scheduling (politeness budget)."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from web_archive_downloader_spark.operators.collisions import assign_collision_names
from web_archive_downloader_spark.operators.schedule import per_host_topk
from web_archive_downloader_spark.content.paths import xxhash64_str
from web_archive_downloader_spark.operators.seen import (
    BloomSketch,
    anti_join_unseen,
    build_bloom_sketches,
    merge_sketches,
    unseen_with_bloom_state,
)


def hash_urls(urls) -> np.ndarray:
    """xxhash64(url, seed=42) as uint64, bit-for-bit Spark's
    ``F.xxhash64`` (a per-row Python loop; the engine hashes JVM-side)."""
    return np.array([xxhash64_str(u, 42) & ((1 << 64) - 1) for u in urls], np.uint64)


def _saves_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["dir", "base", "ext", "style", "save_seq"])
    )


def test_collision_page_style(spark):
    rows = [
        ("output/blog", "Post", ".md", "page", 1),
        ("output/blog", "Post", ".md", "page", 2),
        ("output/blog", "Post", ".md", "page", 3),
        ("output/blog", "Post", ".html", "page", 4),  # other ext: no collision
        ("output/other", "Post", ".md", "page", 5),  # other dir: no collision
    ]
    out = assign_collision_names(_saves_df(spark, rows))
    got = {r.save_seq: r.filename for r in out.collect()}
    assert got == {1: "Post.md", 2: "Post-1.md", 3: "Post-2.md", 4: "Post.html", 5: "Post.md"}


def test_collision_asset_strip_interaction(spark):
    # reference quirk: asset counter strips a previous -N
    # (file_handler.py:253-263): logo.png, logo-1.png (literal), then
    # another logo.png -> probes logo.png(taken) -> logo-1.png(taken)
    # -> logo-2.png
    rows = [
        ("d", "logo", ".png", "asset", 1),
        ("d", "logo-1", ".png", "asset", 2),
        ("d", "logo", ".png", "asset", 3),
    ]
    out = assign_collision_names(_saves_df(spark, rows))
    got = [r.filename for r in out.orderBy("save_seq").collect()]
    assert got == ["logo.png", "logo-1.png", "logo-2.png"]


def test_collision_page_literal_suffix_groups_together(spark):
    # 'post' chain generates post-1; a literal base 'post-1' must share
    # the namespace (full -N strip grouping)
    rows = [
        ("d", "post", ".md", "page", 1),
        ("d", "post", ".md", "page", 2),  # -> post-1.md
        ("d", "post-1", ".md", "page", 3),  # literal collides -> post-1-1.md
    ]
    out = assign_collision_names(_saves_df(spark, rows))
    got = [r.filename for r in out.orderBy("save_seq").collect()]
    assert got == ["post.md", "post-1.md", "post-1-1.md"]


def test_collision_two_column_key_survives_high_seq_namespaces(spark):
    """Seed / ingested (>=2^45) / expansion (>=2^50) seqs share name
    groups without int64 overflow: the (save_seq, save_pos) sort key
    is lexicographic, never a packed product (the old seq*2^20
    packing aliased an ingested seq 2^45+s with seed s exactly:
    2^45*2^20 === 0 mod 2^64)."""
    rows = [
        ("d", "Post", ".md", "page", (1 << 45) + 3, 1 << 62),  # ingested
        ("d", "Post", ".md", "page", 3, 1 << 62),              # seed, same feed seq
        ("d", "Post", ".md", "page", (1 << 50) + 7, 1 << 62),  # depth-1 expansion
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["dir", "base", "ext", "style", "save_seq", "save_pos"]
        )
    )
    out = assign_collision_names(df)
    got = {r.save_seq: r.filename for r in out.collect()}
    assert got[3] == "Post.md"                 # seed saves first
    assert got[(1 << 45) + 3] == "Post-1.md"   # ingested after every seed
    assert got[(1 << 50) + 7] == "Post-2.md"   # expansion after ingested


def test_finalize_orders_ingested_saves_after_seeds(spark, tmp_path):
    """finalize_outputs end-to-end: a seed page (seq=s) and an
    ingested page (seq=INGEST_SEQ_BASE+s) colliding on (dir, base)
    must name deterministically seed-first — the regression where the
    packed save_seq wrapped int64 and aliased the two."""
    from web_archive_downloader_spark.datagen import default_config
    from web_archive_downloader_spark.plans.crawl import (
        ASSETS_RAW_SCHEMA,
        DOCS_RAW_SCHEMA,
        CrawlPlan,
    )
    from web_archive_downloader_spark.sources.state import StateStore

    store = StateStore(str(tmp_path / "st"), spark)
    html = "<div><p>hello world</p></div>"
    docs = spark.createDataFrame(
        [
            ("https://ex.com/a/seed-page", "20230101000000", 3, "wayback",
             "Same Title", html, 0),
            ("https://ex.com/a/ingested-page", "20230101000000",
             CrawlPlan.INGEST_SEQ_BASE + 3, "wayback", "Same Title", html, 1),
        ],
        DOCS_RAW_SCHEMA,
    )
    m = store.read_manifest()
    m["tables"]["docs_raw"] = [store.stage("docs_raw", 0, docs)]
    m["tables"]["assets_raw"] = [
        store.stage("assets_raw", 0, spark.createDataFrame([], ASSETS_RAW_SCHEMA))
    ]
    m["epoch"] = 1
    store._write_manifest(m)
    plan = CrawlPlan(spark, store, default_config())
    out, _ = plan.finalize_outputs()
    names = {r.url: r.filename for r in out.collect()}
    assert names["https://ex.com/a/seed-page"] == "Same_Title.md"
    assert names["https://ex.com/a/ingested-page"] == "Same_Title-1.md"


def test_collision_limit_aborts(spark):
    rows = [("d", "x", ".md", "page", i) for i in range(103)]
    out = assign_collision_names(_saves_df(spark, rows))
    names = [r.filename for r in out.orderBy("save_seq").collect()]
    assert names[0] == "x.md" and names[1] == "x-1.md"
    assert names[99] == "x-99.md"
    # reference aborts after generating x-100 WITHOUT an existence
    # check (file_handler.py:131-137), so x-100 is never assigned
    assert names[100] is None and names[101] is None and names[102] is None


def test_bloom_no_false_negatives_and_low_fpr():
    seen = hash_urls([f"https://e.com/p{i}" for i in range(5000)])
    sk = BloomSketch.sized_for(5000, 0.01)
    sk.add_many(seen)
    assert sk.might_contain(seen).all()
    fresh = hash_urls([f"https://e.com/new{i}" for i in range(5000)])
    fpr = sk.might_contain(fresh).mean()
    assert fpr < 0.03


def test_bloom_mixed_geometry_merge():
    # Epochs committing >expected URLs into one pid produce sketches
    # of DIFFERENT capacity for that pid — the merge must not raise
    # and must keep the no-false-negative guarantee across all of them.
    a_urls = hash_urls([f"https://e.com/a{i}" for i in range(50)])
    b_urls = hash_urls([f"https://e.com/b{i}" for i in range(9000)])
    small = BloomSketch.sized_for(64)
    small.add_many(a_urls)
    big = BloomSketch.sized_for(9000)
    big.add_many(b_urls)
    assert small.n_bits != big.n_bits
    merged = merge_sketches([(3, small.to_bytes()), (3, big.to_bytes())])
    sks = [BloomSketch.from_bytes(b) for b in merged[3]]
    assert len(sks) == 2

    for urls in (a_urls, b_urls):
        hit = np.zeros(len(urls), bool)
        for sk in sks:
            hit |= sk.might_contain(urls)
        assert hit.all()
    # equal-geometry sketches collapse into one
    s2 = BloomSketch.sized_for(64)
    s2.add_many(b_urls[:50])
    merged2 = merge_sketches([(1, small.to_bytes()), (1, s2.to_bytes())])
    assert len(merged2[1]) == 1


def test_unseen_with_bloom_exact(spark):
    frontier = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://e.com/{i}" for i in range(200)]})
    )
    url_seen = spark.createDataFrame(
        pd.DataFrame({"url": [f"https://e.com/{i}" for i in range(0, 200, 2)]})
    )
    sketch_df = build_bloom_sketches(url_seen, 8, 64)
    unseen, mode = unseen_with_bloom_state(frontier, url_seen, sketch_df, 8, spark)
    assert mode == "broadcast"
    got = sorted(r.url for r in unseen.collect())
    expected = sorted(f"https://e.com/{i}" for i in range(1, 200, 2))
    assert got == expected
    # and plain anti-join agrees
    plain = sorted(r.url for r in anti_join_unseen(frontier, url_seen).collect())
    assert plain == expected


def test_per_host_topk_budget_and_order(spark):
    rows = []
    for h, n in [("hot.com", 500), ("cold.com", 5)]:
        for i in range(n):
            rows.append((f"https://{h}/{i}", h, 0, 0.0, len(rows)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "host", "depth", "priority", "seq"])
    )
    out = per_host_topk(df, k=10, salt_buckets=8)
    got = out.groupBy("host").agg(F.count("*").alias("n"), F.min("seq"), F.max("seq")).collect()
    by_host = {r.host: r for r in got}
    assert by_host["hot.com"]["n"] == 10
    assert by_host["cold.com"]["n"] == 5
    # selected rows are exactly the lowest-seq ones per host
    hot = sorted(r.seq for r in out.filter(F.col("host") == "hot.com").collect())
    assert hot == list(range(10))
    # salted two-phase == unsalted result
    unsalted = per_host_topk(df, k=10, salt_buckets=1)
    assert sorted(r.url for r in out.collect()) == sorted(r.url for r in unsalted.collect())


def test_pack_sequences_greedy_semantics(spark):
    """First-fit-with-reset packing: packs never exceed the budget
    unless a SINGLE oversize doc occupies its own (overflowing) pack;
    visit order within a shard is doc_id order; pack_pos counts from 0
    per pack."""
    from web_archive_downloader_spark.operators.packing import pack_sequences

    # one shard (n_shards=1): tokens 100,100,100 -> pack0 holds 2
    # (200<=256), third opens pack1; then a 300-token oversize doc goes
    # ALONE into pack2 (overflow); then 10,10 continue in pack3? no —
    # oversize closes pack1 (100+300>256), occupies pack2 alone
    # (overflow), and the next 10 opens pack3 (100? no: 300+10>256).
    rows = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3, 4, 5], "n_tokens": [100, 100, 100, 300, 10, 10]}
    )
    out = pack_sequences(spark.createDataFrame(rows), budget=256, n_shards=1)
    got = {r.doc_id: (r.pack_id, r.pack_pos) for r in out.collect()}
    assert got == {
        0: (0, 0), 1: (0, 1),     # 200 <= 256
        2: (1, 0),                # 300 > 256 -> reset
        3: (2, 0),                # 100+300 > 256 -> oversize alone
        4: (3, 0), 5: (3, 1),     # 300+10 > 256 -> reset; 10+10 fits
    }
    summ = {r.pack_id: (r.n_docs, r.pack_tokens)
            for r in out.groupBy("pack_id").agg(
                F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens")
            ).collect()}
    assert summ[2] == (1, 300)   # the oversize doc overflows its own pack
    assert summ[0] == (2, 200)


def test_pack_sequences_partitioning_invariant(spark):
    """Pack assignment is a pure function of (doc_id, n_tokens) — the
    same input at a different parallelism/partitioning yields the
    identical assignment (the determinism contract a resumable trainer
    pipeline needs)."""
    from web_archive_downloader_spark.operators.packing import pack_sequences

    pdf = pd.DataFrame({"doc_id": list(range(200)),
                        "n_tokens": [(7 * i) % 90 + 1 for i in range(200)]})
    a = pack_sequences(spark.createDataFrame(pdf).repartition(1), 128, n_shards=4)
    b = pack_sequences(spark.createDataFrame(pdf).repartition(13), 128, n_shards=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
