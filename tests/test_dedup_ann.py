"""Semantics tests for the approximate operators that have no SQL
twin: LSH-ANN recall vs brute force, simhash near-dup blocking
guarantee, embedding near-dup symmetry, minhash-jaccard correlation."""

import pytest
from pyspark.sql import functions as F

from web_archive_downloader_spark.operators.ann import brute_force_topk, lsh_bucketed_topk
from web_archive_downloader_spark.operators.dedup import (
    embedding_neardup,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    simhash_near_dups,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_lsh_ann_recall_on_similar_vectors(emb, spark):
    """LSH's recall guarantee applies to genuinely-similar pairs, so
    gate on planted near-duplicates (slightly perturbed copies) —
    their true neighbors must be recovered with recall >= 0.9. On
    near-random fixture vectors the top-10 are barely above chance
    and any sub-quadratic method legitimately misses them."""
    base = emb.limit(10).collect()
    planted = []
    for r in base:
        v = [x * 0.97 + 0.01 for x in r.embedding]  # cos ~ 0.999
        planted.append((r.vec_id + 100000, v, r.label))
    both = emb.unionByName(spark.createDataFrame(planted, emb.schema))
    qids = [r.vec_id for r in base]
    approx = lsh_bucketed_topk(both, qids, k=10, n_planes=4, n_tables=8)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    hits = sum(1 for q in qids if (q, q + 100000) in got)
    assert hits / len(qids) >= 0.9, f"planted-dup recall {hits}/{len(qids)}"


def test_ivf_recall(emb, spark):
    """IVF with n_probe=3/16 clusters must recover planted near-dups
    and a solid share of true neighbors (probed clusters cover the
    query's own neighborhood by construction)."""
    from web_archive_downloader_spark.operators.ann import ivf_topk

    base = emb.limit(10).collect()
    planted = [
        (r.vec_id + 100000, [x * 0.97 + 0.01 for x in r.embedding], r.label) for r in base
    ]
    both = emb.unionByName(spark.createDataFrame(planted, emb.schema))
    qids = [r.vec_id for r in base]
    got = {(r.query_id, r.neighbor_id) for r in ivf_topk(both, qids, k=10).collect()}
    hits = sum(1 for q in qids if (q, q + 100000) in got)
    assert hits / len(qids) >= 0.9

    ex = {(r.query_id, r.neighbor_id) for r in brute_force_topk(both, qids, k=10).collect()}
    recall = len(ex & got) / len(ex)
    assert recall >= 0.4


def test_lsh_ann_moderate_recall_vs_bruteforce(emb):
    """Even on near-random vectors the multi-table variant should
    recover a meaningful fraction of the true top-10."""
    qids = [1, 50, 200, 333, 499]
    ex = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, k=10).collect()}
    ap = {(r.query_id, r.neighbor_id) for r in lsh_bucketed_topk(emb, qids, k=10, n_planes=4, n_tables=8).collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def _overlap_docs(spark, n_pairs=15, overlap=0.8):
    """Synthetic doc pairs with ~`overlap` token-set jaccard (the
    near-dup-but-not-identical case the rep-clustered LSH must pair)."""
    rows = []
    for p in range(n_pairs):
        base = [f"w{p}_{i}" for i in range(40)]
        keep = int(40 * overlap)
        a = " ".join(base)
        b = " ".join(base[:keep] + [f"x{p}_{i}" for i in range(40 - keep)])
        rows.append((p * 2, a, "en", f"s{p}", len(a)))
        rows.append((p * 2 + 1, b, "en", f"s{p}", len(b)))
    return spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_lsh_candidates_capture_high_jaccard(spark):
    """High-jaccard (but not identical) pairs must surface as LSH
    candidates with high probability; identical docs collapse into
    signature clusters rather than pairs."""
    docs = _overlap_docs(spark, n_pairs=15, overlap=0.85)
    cands = minhash_lsh_candidates(docs, k=16, bands=4)
    got = {(r.doc_a, r.doc_b) for r in cands.collect()}
    hits = sum(1 for p in range(15) if (p * 2, p * 2 + 1) in got)
    assert hits >= 10, f"only {hits}/15 near-dup pairs became candidates"
    jac = jaccard_pairs(docs, cands).collect()
    assert all(0.0 <= r.jaccard <= 1.0 for r in jac)


def test_minhash_estimates_jaccard(spark):
    """MinHash signature agreement approximates true Jaccard."""
    docs = _overlap_docs(spark, n_pairs=15, overlap=0.7)
    sig = minhash_signatures(docs, k=16)
    cands = spark.createDataFrame(
        [(p * 2, p * 2 + 1) for p in range(15)], ["doc_a", "doc_b"]
    )
    true_j = jaccard_pairs(docs, cands)
    a, b = sig.alias("a"), sig.alias("b")
    est = (
        cands.join(a, cands.doc_a == F.col("a.doc_id"))
        .join(b, cands.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("a.sig", "b.sig", lambda x, y: (x == y).cast("int")),
                        lambda v: v == 1,
                    )
                ).cast("double")
                / 16.0
            ).alias("est"),
        )
    )
    joined = true_j.join(est, ["doc_a", "doc_b"]).collect()
    assert len(joined) == 15
    mae = sum(abs(r.jaccard - r.est) for r in joined) / len(joined)
    assert mae < 0.3  # 16 perms is coarse; sanity-bound the estimator


def test_signature_clusters_collapse_exact_dups(docs, spark):
    from web_archive_downloader_spark.operators.dedup import signature_clusters

    d2 = docs.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    both = docs.limit(10).unionByName(d2)
    clusters = signature_clusters(both, k=16).collect()
    assert all(r.cluster_size >= 2 for r in clusters)
    assert sum(r.cluster_size for r in clusters) == 20


def test_simhash_near_dups_self_consistency(docs, spark):
    """Duplicated docs (hamming 0) must all be caught by the chunked
    blocking; verify with synthetic exact dupes."""
    d2 = docs.limit(20).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    both = docs.limit(20).unionByName(d2)
    pairs = simhash_near_dups(both, bits=32, max_hamming=3)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    expected = {(i, i + 100000) for i in range(20)}
    missing = {(a, b) for a, b in expected if (a, b) not in got and (b, a) not in got}
    assert not missing, f"exact dupes missed by simhash blocking: {missing}"


def test_embedding_neardup_finds_planted_dup(emb, spark):
    planted = emb.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(planted)
    pairs = embedding_neardup(both, threshold=0.999)
    got = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    for i in range(5):
        assert (i, i + 100000) in got


def test_connected_components_shapes(spark):
    """Min-label propagation on known graph shapes: chain (max
    diameter), star, two separate components, singleton."""
    import pandas as pd
    from web_archive_downloader_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5, star 10-{11,12,13}, pair 20-21, singleton 30
    edges = pd.DataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)],
        columns=["doc_a", "doc_b"],
    )
    nodes = pd.DataFrame({"node": [1, 2, 3, 4, 5, 10, 11, 12, 13, 20, 21, 30]})
    got = {
        r.node: r.component
        for r in connected_components(
            spark.createDataFrame(nodes), spark.createDataFrame(edges)
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10,
                   13: 10, 20: 20, 21: 20, 30: 30}


def test_dedup_components_cluster_exact_dups(docs, spark):
    from web_archive_downloader_spark.operators.dedup import dedup_components

    d2 = docs.limit(8).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    both = docs.limit(8).unionByName(d2)
    comp = {r.doc_id: r.component for r in dedup_components(both).collect()}
    for i in range(8):
        assert comp[i + 100000] == comp[i]  # byte-dup lands in the original's cluster


def test_embedding_neardup_lsh_vs_exact(emb, spark):
    """The blocked (checked) path vs the exact all-pairs reference:
    exact duplicates collide in EVERY table (identical sign buckets),
    so recall on planted dups is 1.0; every emitted pair must also
    appear in the exact result with the same cosine (precision 1.0)."""
    from web_archive_downloader_spark.operators.dedup import embedding_neardup_lsh

    planted = emb.limit(8).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(planted)
    lsh = {(r.vec_a, r.vec_b): r.cos for r in embedding_neardup_lsh(both, threshold=0.999).collect()}
    exact = {(r.vec_a, r.vec_b): r.cos for r in embedding_neardup(both, threshold=0.999).collect()}
    for i in range(8):
        assert (i, i + 100000) in lsh  # identical vectors never miss
    for pair, cos in lsh.items():
        assert exact.get(pair) == cos  # blocked pairs are a subset with exact cosines


def test_neardup_corpus_sized_geometry_parity(emb, spark):
    """The corpus-sized plane count must agree between the engine and
    the DuckDB twin AT A NON-DEFAULT GEOMETRY: target_bucket_rows=8
    forces n_planes=6 for the 500-row corpus (the default checked run
    uses 5 at this n), so this exercises the variable-geometry path
    both sides — identical pair sets and cosines."""
    import duckdb

    import __spark_entry__ as entry_mod
    from web_archive_downloader_spark.operators.dedup import (
        embedding_neardup_lsh,
        neardup_planes_for,
    )

    n = emb.count()
    assert neardup_planes_for(n, target_bucket_rows=8) == 6  # non-default
    got = {
        (r.vec_a, r.vec_b): r.cos
        for r in embedding_neardup_lsh(
            emb, threshold=0.45, target_bucket_rows=8
        ).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'")
    sql = entry_mod._neardup_lsh_sql(0.45, target_bucket_rows=8)
    exp = {
        (int(a), int(b)): round(float(c), 4)
        for a, b, c in con.execute(sql).fetchall()
    }
    assert got == exp


def test_local_topk_reduce_bounds_and_exactness(emb, spark):
    """local_topk_reduce: each partition emits <= k rows per query,
    the union contains the global top-k, and brute_force_topk built on
    it equals a reference global-window rank computed directly."""
    from pyspark.sql import Window

    from web_archive_downloader_spark.operators.ann import (
        cosine_expr,
        local_topk_reduce,
    )

    k, n_parts = 5, 8
    qids = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(3).collect()]
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).repartition(n_parts)
    q = e.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr(F.col("qv"), F.col("v")), 4).alias("cos"),
    )
    reduced = local_topk_reduce(scored, k)
    # bound: <= k rows per (partition, query)
    per_pq = (
        reduced.withColumn("p", F.spark_partition_id())
        .groupBy("p", "query_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_pq <= k
    assert reduced.count() <= k * n_parts * len(qids)
    # exactness: window over reduced rows == window over ALL scored rows
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    def topk(df):
        return {
            (r.query_id, r.rank, r.neighbor_id, r.cos)
            for r in df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).collect()
        }
    assert topk(reduced) == topk(scored)


def test_ngram_decontaminate_flags_planted_overlap(spark):
    """A training doc containing an eval doc's exact 5-gram is
    flagged with the right distinct-overlap count; disjoint docs are
    not flagged."""
    import pandas as pd

    from web_archive_downloader_spark.operators.dedup import ngram_decontaminate

    ev = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["the quick brown fox jumps over it"]})
    )
    tr = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    # contains TWO distinct eval 5-grams
                    "note the quick brown fox jumps over something",
                    "completely different words here entirely now",
                    "short doc",  # < 5 tokens -> no shingles at all
                ],
            }
        )
    )
    got = {r.doc_id: r.n_hits for r in ngram_decontaminate(tr, ev, n=5).collect()}
    assert got == {1: 2}


def test_embedding_neardup_lsh_scopes_its_buckets(emb, monkeypatch):
    """The bucket table is a scoped materialization: a second call
    evicts the first call's persisted buckets instead of leaving them
    cached (Spark's CacheManager matches plans structurally, so a kept
    table would be reused by the repeat and never freed)."""
    import web_archive_downloader_spark.operators.dedup as dedup

    made = []
    real = dedup.materialize_with_stats

    def spy(*args, **kw):
        made.append(real(*args, **kw))
        return made[-1]

    monkeypatch.setattr(dedup, "materialize_with_stats", spy)
    dedup.embedding_neardup_lsh(emb, threshold=0.999)
    dedup.embedding_neardup_lsh(emb, threshold=0.999)
    assert len(made) == 2
    assert not made[0].is_cached
    assert made[1].is_cached


def test_scoped_materialization_keeps_its_predecessor_until_built(spark):
    """A scoped materialization whose input reads the scope's previous
    relation must read it from the cache, not recompute it: the
    predecessor is evicted only once the new relation is cached. A
    repeat of a cached plan under its scope still recomputes, and what
    it returns stays cached."""
    from web_archive_downloader_spark.partitioning import materialize_with_stats

    def is_materialized(df):
        return df.storageLevel.useMemory

    computed = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        computed.add(1)
        return x

    base = spark.range(8).select(bump("id").alias("id"))
    prev = materialize_with_stats(base, scope="test_chain")
    assert computed.value == 8
    step = prev.select((F.col("id") + 1).alias("id"))
    nxt = materialize_with_stats(step, scope="test_chain")
    assert computed.value == 8  # the predecessor was not recomputed
    assert is_materialized(nxt) and not is_materialized(prev)
    again = materialize_with_stats(step, scope="test_chain")
    assert computed.value == 16  # a repeat computes from its inputs
    assert is_materialized(again)
    again.unpersist()


def test_connected_components_chain_stays_small(spark):
    """An 8-node chain needs 8 propagation rounds. Each round reads
    only the previous round's checkpoint, so the result's logical plan
    stays a few hundred characters and the job count grows linearly
    with the rounds (re-reading every earlier round built a ~467k-char
    plan and ran ~940 jobs)."""
    import pandas as pd

    from web_archive_downloader_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame([(i, i + 1) for i in range(1, 8)], columns=["doc_a", "doc_b"])
    )
    nodes = spark.createDataFrame(pd.DataFrame({"node": list(range(1, 9))}))
    sc = spark.sparkContext
    sc.setJobGroup("cc_chain", "connected_components on an 8-node chain")
    try:
        comp = connected_components(nodes, edges)
        got = {r.node: r.component for r in comp.collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {i: 1 for i in range(1, 9)}
    assert len(comp._jdf.queryExecution().logical().toString()) < 1024
    assert len(sc.statusTracker().getJobIdsForGroup("cc_chain")) < 100


# adversarial codebook: 17-significant-digit values, subnormals, -0.0,
# magnitudes whose squares overflow to inf, and exact ties (a repeated
# centroid, -0.0 vs 0.0, subnormal offsets that square to 0.0)
_ADV_CENTERS = [
    [0.1, 0.2, 0.30000000000000004, 1 / 3, 2 / 3, 0.12345678901234568],
    [5e-324, -5e-324, 2.2250738585072014e-308, 1e-310, -0.0, 0.0],
    [1e300, -1e300, 1.2345678901234567e300, 0.0, 0.0, 0.0],
    [0.1, 0.2, 0.30000000000000004, 1 / 3, 2 / 3, 0.12345678901234568],
    [-0.0] * 6,
    [0.0] * 6,
    [-1e300, 1e300, 0.0, 0.0, 0.0, 0.0],
    [1 / 7, 2 / 7, 3 / 7, 4 / 7, 5 / 7, 6 / 7],
]
_ADV_VECS = [
    [0.0] * 6,
    [-0.0] * 6,
    _ADV_CENTERS[0],
    [1 / 7 + 1e-17, 2 / 7, 3 / 7, 4 / 7, 5 / 7, 6 / 7],
    [1e150, -1e150, 3.0000000000000004, 1e-160, -2.5e-320, 7.0],
    [0.14285714285714285, 0.1, -0.3333333333333333, 1e10, 1e-10, 123456.78901234567],
]


def test_ivf_codebook_literal_is_exact(spark):
    """The one-literal codebook parses back to the identical doubles,
    sign of zero included."""
    from web_archive_downloader_spark.operators.ann import _double_matrix

    got = spark.range(1).select(F.expr(_double_matrix(_ADV_CENTERS)).alias("b")).first().b
    assert [[x.hex() for x in r] for r in got] == [
        [float(x).hex() for x in r] for r in _ADV_CENTERS
    ]


def test_ivf_assignment_matches_python_fold(spark):
    """nearest_centroids (the IVF row assignment and query probes)
    gives, bit for bit, the (d, cluster) list of a pure-Python float64
    fold ((0.0 + (v0-c0)^2) + (v1-c1)^2)..., sorted by d with ties to
    the lowest cluster id — the DuckDB twin's order."""
    from web_archive_downloader_spark.operators.ann import nearest_centroids

    df = spark.createDataFrame(
        list(enumerate(_ADV_VECS)), "id int, v array<double>"
    )
    got = {
        r.id: [(x.d.hex(), x.cluster) for x in r.nc]
        for r in df.select("id", nearest_centroids("v", _ADV_CENTERS).alias("nc")).collect()
    }

    def fold(v, c):
        acc = 0.0
        for x, y in zip(v, c):
            acc = acc + (x - y) * (x - y)
        return acc

    for i, v in enumerate(_ADV_VECS):
        want = sorted((fold(v, c), ci) for ci, c in enumerate(_ADV_CENTERS))
        assert got[i] == [(d.hex(), ci) for d, ci in want], i


def test_ivf_topk_builds_in_bounded_py4j_calls(emb, monkeypatch):
    """Building the IVF query at 16 clusters x 64 dims makes a fixed,
    small number of py4j round trips: the codebook is one literal, not
    a lit column per float (which cost ~17k round trips). Only the
    commands the build sends count: handles that earlier tests left in
    reference cycles are collected first, and the deletes that Python's
    GC sends for any it frees during the build are skipped, so the
    count does not depend on which tests ran before."""
    import gc
    import random

    import py4j.clientserver
    import py4j.protocol

    from web_archive_downloader_spark.operators.ann import ivf_topk

    rng = random.Random(7)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(16)]
    calls = [0]
    real = py4j.clientserver.ClientServerConnection.send_command
    delete = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command):
        if not command.startswith(delete):
            calls[0] += 1
        return real(self, command)

    gc.collect()

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    ivf_topk(emb, [3, 17, 42], k=10, n_probe=3, centroids=centers)
    monkeypatch.undo()
    assert 0 < calls[0] < 1000
