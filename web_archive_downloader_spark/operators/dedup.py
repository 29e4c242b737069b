"""Deduplication suite for a training-data pipeline (task brief):
exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. Spark-first designs with explicit shuffle
accounting; each oracle-checkable variant has a DuckDB SQL twin in
__spark_entry__ built from the same portable hash primitives
(md5-derived 56-bit integers, polynomial folds).

Scale notes per operator:
- exact_dedup: one hash-partitioned shuffle on md5(text); partial agg
  map-side. 100 TB -> works unchanged; hot duplicate clusters are
  bounded by groupBy (count/min only, no row materialization).
- minhash: explode(tokens) is the big intermediate — k permutations
  are computed as k columns BEFORE the groupBy (map-side), so the
  shuffle carries one row per (doc, token), aggregated partially.
- LSH banding: signatures -> (band, band_key) exchange; candidate
  pairs only within buckets => no quadratic blowup. Self-join uses
  doc_id < doc_id to halve output.
- simhash: explode + per-bit majority via sum of +/- weights; one
  shuffle keyed by doc.
- similarity_pairs: n-gram and token Jaccard over BLOCKED candidate
  pairs (shared minhash band) — never a full cross join at scale.
- embedding_neardup: cosine over normalized vectors; blocked by LSH
  sign-bucket (random hyperplanes) at scale; exact variant for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textstats import md5_hash28_col, md5_hash56_col, tokens_col
from ..partitioning import materialize_with_stats, widen_narrow_scan

# Permutation modulus: 2^31-1 (Mersenne prime). Chosen so that with
# 28-bit token hashes (a*h + b) BOTH (a) wraps the modulus many times
# (a map that never wraps is monotonic in h — every "permutation"
# would then collapse to the same argmin and the jaccard estimator
# degenerates) and (b) stays < 2^63 (Spark wraps int64 silently,
# DuckDB errors — overflow-free arithmetic is a portability invariant).
MOD = (1 << 31) - 1


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash. Returns one row per
    distinct content: (content_hash, keep_id, n_dups)."""
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )


def _perm_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod M."""
    params = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(k):
        x = (a * x + b) % (1 << 31)
        a_i = (2 * x + 1) % MOD or 1  # odd, nonzero, < MOD
        x = (a * x + b) % (1 << 31)
        b_i = x % MOD
        params.append((a_i, b_i))
    return params


def minhash_signatures(docs: DataFrame, k: int = 16) -> DataFrame:
    """MinHash signature per doc over whitespace-token shingles.

    Plan shape: tokens exploded once; all k permutation mins computed
    in ONE aggregation pass (k agg columns), so there is exactly one
    shuffle (on doc_id) with map-side partial mins. Output:
    (doc_id, sig: array<long> length k).
    """
    tok = (
        widen_narrow_scan(docs)
        .select("doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok"))
        .withColumn("h", md5_hash28_col(F.col("tok")))  # 28-bit: overflow-free perms
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MOD)).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_params(k))
    ]
    sig = tok.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig"))


def signature_clusters(docs: DataFrame, k: int = 16) -> DataFrame:
    """Docs with IDENTICAL full MinHash signatures form trivial
    duplicate clusters — collapsing them BEFORE pair enumeration is
    what keeps LSH sub-quadratic on duplicate-heavy corpora (a single
    mega-bucket of N copies would otherwise emit N^2/2 pairs; here it
    emits one cluster row). Returns (sig_key, rep_id, cluster_size).

    The signatures are read once, by one aggregation, so they are not
    materialized."""
    sig = minhash_signatures(docs, k)
    return (
        sig.select("doc_id", F.concat_ws(",", F.col("sig").cast("array<string>")).alias("sig_key"))
        .groupBy("sig_key")
        .agg(F.min("doc_id").alias("rep_id"), F.count("*").alias("cluster_size"))
    )


def minhash_lsh_candidates(
    docs: DataFrame, k: int = 16, bands: int = 4, sig: DataFrame | None = None
) -> DataFrame:
    """LSH banding over signature-cluster REPRESENTATIVES: distinct
    full signatures are clustered first (signature_clusters), then
    representatives sharing any band key become candidate pairs.
    Returns (doc_a, doc_b) with doc_a < doc_b, distinct.

    Scale: pair output is quadratic only in the number of DISTINCT
    signatures per bucket, never in duplicate multiplicity."""
    assert k % bands == 0
    rows_per_band = k // bands
    # Materialize signatures ONCE: the banded self-join would otherwise
    # recompute the token-explode + k-way min aggregation (the
    # expensive subtree) for each side — Spark's ReusedExchange does
    # NOT fire across the differing downstream projections (verified
    # by plan audit: 4 scans / 6 explodes without this). Signatures
    # are tiny (doc_id + k longs per doc), so the materialization is
    # cheap. A caller that reads the signatures again (similarity_pairs
    # joins them to its features) materializes them itself and passes
    # them as ``sig``, so both operators read one relation.
    if sig is None:
        sig = materialize_with_stats(minhash_signatures(docs, k))
    keyed = sig.withColumn(
        "sig_key", F.concat_ws(",", F.col("sig").cast("array<string>"))
    )
    # one representative per distinct signature. Carrying the sig array
    # through the aggregation (first(sig)) forces SortAggregate (array
    # buffers are not hash-agg-able); aggregating ONLY min(doc_id)
    # keeps it a HashAggregate and the representative's sig is fetched
    # back with a semi-join on doc_id (doc_ids are unique, and sig is
    # identical within a sig_key group — same rows either way)
    rep_ids = keyed.groupBy("sig_key").agg(F.min("doc_id").alias("doc_id"))
    rep_sigs = sig.join(
        rep_ids.select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "sig")
    banded = rep_sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[b * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # materialized with stats: the self-join otherwise evaluates the
    # whole rep-selection + banding subtree once per side, and the
    # (tiny) banded relation then broadcasts
    banded = materialize_with_stats(banded)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def jaccard_pairs(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs:
    (doc_a, doc_b, jaccard). Distinct-token semantics (both Spark
    array_intersect/distinct and DuckDB list_* dedup).

    Same shape choices as similarity_pairs: the per-doc token-set
    relation is materialized once WITH stats (so it broadcasts into
    the candidate stream at its true size instead of forcing shuffled
    joins), and |A∪B| is derived as |A|+|B|-|A∩B| — exact for the
    distinct arrays — halving the per-pair set work."""
    toks = materialize_with_stats(
        widen_narrow_scan(docs).select(
            "doc_id", F.array_distinct(tokens_col(F.col("text"))).alias("toks")
        ).select("doc_id", "toks", F.size("toks").alias("n_toks"))
    )
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect("a.toks", "b.toks"))
    return (
        candidates.join(a, candidates.doc_a == F.col("a.doc_id"))
        .join(b, candidates.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double") / (F.col("a.n_toks") + F.col("b.n_toks") - inter),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_shingles_from_tokens(toks, n: int = 2):
    """Word n-gram shingles from an ALREADY-MATERIALIZED token array
    column. Callers must bind ``toks`` to a projected attribute (not an
    inline tokenize expression): higher-order lambdas are interpreted,
    so every reference to a non-attribute child is RE-EVALUATED per
    element — an inline split() child turns O(tokens) shingling into
    O(tokens^2) re-tokenization (measured 10x+ on the decontamination
    path; see BENCH.md, History). With an attribute child each
    slice() is an O(n) array copy.

    concat_ws over the slice() subarray emits the identical string the
    former per-position element_at concat built (concat_ws flattens
    array arguments and skips nulls the same way).
    Guarded: Spark's sequence(1, 0) DESCENDS, so short docs must map
    to an explicit empty array."""
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    shingles = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )
    from pyspark.sql import types as T

    return F.when(F.size(toks) >= n, shingles).otherwise(
        F.lit([]).cast(T.ArrayType(T.StringType()))
    )


def similarity_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    sig: DataFrame,
    k: int,
    n: int = 2,
) -> DataFrame:
    """All three candidate-ranking similarities in ONE pass:
    (doc_a, doc_b, jaccard, ngram_jaccard, jaccard_est).

    Consolidates what were three separate checked queries
    (jaccard_pairs / ngram_jaccard / minhash_jaccard_estimate) — same
    blocked candidate set, but ONE pair of per-side joins instead of
    three: each doc's row carries (token set, n-gram shingle set,
    minhash signature) together, so at 100 TB the candidate relation is
    joined twice (a-side, b-side) total rather than six times, and the
    doc-feature relation is BUILT once (tokenize + shingle + sig join,
    then materialize_with_stats) and joined to both candidate sides from that
    materialization — without it the whole feature subtree is
    re-evaluated per join side (r05 verdict item). The three measures
    fold JVM-side (array_intersect/union + zip_with/aggregate).

    Precondition (documented, ADVICE r05): ``candidates`` pairs must
    reference docs present in ``sig`` (true for LSH-derived candidate
    sets, which are built FROM sig) — a pair whose doc lacks a
    signature row drops out of all three measures via the inner join.
    """
    feats = (
        widen_narrow_scan(docs)
        .select("doc_id", tokens_col(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            F.array_distinct(F.col("_toks")).alias("toks"),
            ngram_shingles_from_tokens(F.col("_toks"), n).alias("sh"),
        )
        # set cardinalities computed once per doc: the pair stage then
        # derives |A∪B| = |A|+|B|-|A∩B| (exact for distinct arrays,
        # which toks/sh are by construction) instead of materializing
        # the union array per pair — half the per-pair set work
        .select(
            "doc_id", "toks", "sh",
            F.size("toks").alias("n_toks"),
            F.size("sh").alias("n_sh"),
        )
        .join(sig.select("doc_id", "sig"), "doc_id")
    )
    # materialized WITH stats: the planner then broadcasts the feature
    # relation into the candidate stream when it fits (the bench-scale
    # case) and falls back to a shuffled join when it doesn't (the
    # 100 TB case) — size-driven, not hinted
    feats = materialize_with_stats(feats)
    a = feats.alias("a")
    b = feats.alias("b")
    agree = F.aggregate(
        F.zip_with("a.sig", "b.sig", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )

    def _jac(left, right, n_left, n_right):
        # |A∪B| = |A|+|B|-|A∩B| for distinct arrays: same integer, so
        # the double ratio (and its rounding) is unchanged — but only
        # ONE array-set operation per measure instead of two
        inter = F.size(F.array_intersect(left, right))
        return F.round(inter.cast("double") / (n_left + n_right - inter), 6)

    return (
        candidates.join(a, candidates.doc_a == F.col("a.doc_id"))
        .join(b, candidates.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            _jac(
                F.col("a.toks"), F.col("b.toks"), F.col("a.n_toks"), F.col("b.n_toks")
            ).alias("jaccard"),
            _jac(
                F.col("a.sh"), F.col("b.sh"), F.col("a.n_sh"), F.col("b.n_sh")
            ).alias("ngram_jaccard"),
            F.round(agree.cast("double") / k, 6).alias("jaccard_est"),
        )
    )


def ngram_decontaminate(
    docs: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Test-set DECONTAMINATION: flag training documents that share
    any word n-gram with an evaluation corpus — the leakage-removal
    pass every production training pipeline runs before the trainer
    sees the data. Returns (doc_id, n_hits) for contaminated docs
    only, n_hits = number of DISTINCT overlapping n-grams.

    100-TB shape: the eval corpus is small by construction (benchmarks
    are KBs-MBs), so its distinct shingle set BROADCASTS — the
    training side streams through a broadcast hash semi-join inside
    its scan stage (no shuffle of the exploded shingles); the only
    exchange is the per-doc hit-count aggregation over the tiny
    matched subset, with map-side partial counts. Never a shuffle of
    the full training corpus' shingles.
    """
    # two-step tokenize -> shingle: the token array is materialized as
    # a projected attribute so the interpreted shingle lambda never
    # re-tokenizes the text per element (see ngram_shingles_from_tokens)
    ev = (
        eval_docs.select(tokens_col(F.col("text")).alias("_toks"))
        .select(F.explode(ngram_shingles_from_tokens(F.col("_toks"), n)).alias("sh"))
        .distinct()
    )
    tr = (
        widen_narrow_scan(docs)
        .select("doc_id", tokens_col(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            F.explode(ngram_shingles_from_tokens(F.col("_toks"), n)).alias("sh"),
        )
    )
    return (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def simhash(docs: DataFrame, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per-bit majority over token hashes.

    One explode + one shuffle on doc_id: bit contributions are summed
    as +/-1 weights in a single agg with ``bits`` columns (map-side
    partial sums), then recombined into an integer. Output:
    (doc_id, simhash:long)."""
    tok = widen_narrow_scan(docs).select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("tok")
    ).withColumn("h", md5_hash56_col(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*aggs)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_near_dups(docs: DataFrame, bits: int = 32, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked by
    16-bit halves (a pair within hamming<=3 shares at least one half
    exactly for bits=32 ... pigeonhole over 4 chunks guarantees <=3
    differing bits leaves one chunk equal when chunks>=4). Uses 4
    chunks of bits/4."""
    chunks = 4
    width = bits // chunks
    # materialized: the chunk-blocked self-join would otherwise
    # re-run the whole token-explode + 32-column simhash aggregation
    # once per side, and the unknown-size subtree would force a
    # sort-merge self-join (same pattern as the LSH family)
    sh = materialize_with_stats(simhash(docs, bits))
    keyed = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", "ck.chunk", "ck.key")
    l, r = keyed.alias("l"), keyed.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct (identical result set — filtering
        # commutes with duplicate elimination): the distinct's exchange
        # then carries only the few surviving near-dup pairs instead of
        # every chunk-collision pair (tens of millions at sf1.0)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def embedding_neardup(embeddings: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicates, EXACT all-pairs variant.

    TEST/RECALL REFERENCE ONLY — this is a cartesian
    (BroadcastNestedLoopJoin) and must never run at scale. The
    production and oracle-checked path is ``embedding_neardup_lsh``
    below, whose candidates are sign-LSH-bucketed. Returns
    (vec_a, vec_b, cos) with cos >= threshold, vec_a < vec_b."""
    from .ann import cosine_expr

    e = embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_expr(F.col("a.v"), F.col("b.v")), 4).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def neardup_edges(
    docs: DataFrame,
    jaccard_threshold: float = 0.4,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Deduplication edge set (doc_a, doc_b), doc_a < doc_b, distinct —
    three families, each sub-quadratic:

    1. exact-hash STAR edges: every doc links to its content-hash
       group's min doc_id (stars induce the same connectivity as
       cliques at O(n) instead of O(n^2) edges);
    2. same-signature star edges: docs whose FULL MinHash signatures
       are identical (near-identical text the LSH stage deliberately
       collapses before pair enumeration);
    3. LSH-candidate pairs among signature representatives verified by
       exact token Jaccard >= threshold.
    """
    exact = docs.select(F.md5("text").alias("h"), "doc_id")
    exact_star = (
        exact.join(exact.groupBy("h").agg(F.min("doc_id").alias("rep")), "h")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    sig = materialize_with_stats(minhash_signatures(docs, k))
    keyed_sig = sig.select(
        "doc_id", F.concat_ws(",", F.col("sig").cast("array<string>")).alias("sig_key")
    )
    sig_star = (
        keyed_sig.join(
            keyed_sig.groupBy("sig_key").agg(F.min("doc_id").alias("rep")), "sig_key"
        )
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    jac = (
        jaccard_pairs(docs, minhash_lsh_candidates(docs, k, bands, sig=sig))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b")
    )
    return exact_star.unionByName(sig_star).unionByName(jac).distinct()


def connected_components(nodes: DataFrame, edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    engine's iterative-algorithm pattern (non-SQL-expressible in one
    plan; the DuckDB twin uses a recursive CTE).

    Per round: every node takes the min of its own label and its
    neighbors' labels; converges in O(component diameter) rounds
    (star-heavy dedup graphs converge in 2-4). Deterministic: min() is
    order-free. A node that appears only in ``edges`` joins its
    component once a neighbor's label reaches it, as in the twin.

    Each round is ONE frame: (node, label, changed), computed from the
    previous round's labels alone, then ``localCheckpoint``-ed and the
    previous round's blocks freed. Convergence is a count of
    ``changed`` over that checkpoint, so no round re-reads an earlier
    one: the plan per round stays a few hundred characters however many
    rounds run, and each checkpoint keeps its real size statistics, so
    the message join still broadcasts the small side.

    nodes: (node), edges: (doc_a, doc_b). Returns (node, component)
    where component = min node id in the component."""
    sym = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()
    for _ in range(max_iter):
        msgs = sym.join(labels, sym["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label", F.lit(None).alias("own")
        )
        new_labels = (
            msgs.unionByName(labels.select("node", "label", F.col("label").alias("own")))
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("own").alias("own"))
            .select(
                "node", "label",
                # own is null for a node first reached this round
                F.coalesce(F.col("label") < F.col("own"), F.lit(True)).alias("changed"),
            )
            .localCheckpoint()
        )
        _release_checkpoint(labels)
        labels = new_labels
        if labels.filter("changed").count() == 0:
            break
    _release_checkpoint(sym)
    return labels.select("node", F.col("label").alias("component"))


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a ``localCheckpoint``-ed frame.
    ``unpersist`` cannot: the checkpoint is a LogicalRDD over a
    checkpointed RDD, not a CacheManager entry."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def dedup_components(docs: DataFrame, jaccard_threshold: float = 0.4) -> DataFrame:
    """Full dedup clustering: (doc_id, component) for EVERY doc —
    singletons keep component = doc_id. component = min doc_id in the
    near-dup cluster (the canonical 'keep' representative for a
    training-data dedup pass)."""
    edges = neardup_edges(docs, jaccard_threshold)
    nodes = docs.select(F.col("doc_id").alias("node"))
    return connected_components(nodes, edges).select(
        F.col("node").alias("doc_id"), "component"
    )


# Sign-LSH geometry for the blocked near-dup path. The hyperplanes are
# deterministic seeded Gaussians, so the DuckDB oracle twin reproduces
# them as literal DOUBLE[] VALUES and enumerates the IDENTICAL
# candidate set (both engines fold the dot product strictly
# left-to-right over the same doubles, so even the sign of a
# borderline dot agrees bit-for-bit).
NEARDUP_DIM = 64
NEARDUP_TABLES = 8
NEARDUP_PLANES = 5


def neardup_planes_for(n_rows: int, target_bucket_rows: int = 4096) -> int:
    """Corpus-sized hyperplane count: enough sign bits that expected
    bucket occupancy n/2^planes stays ~target_bucket_rows, keeping the
    within-bucket pair blowup bounded as the corpus scales (see the
    geometry note on embedding_neardup_lsh). Clamped to [5, 24]; the
    max matches the literal-hyperplane horizon the DuckDB twin
    generates (__spark_entry__._neardup_lsh_sql), which mirrors this
    formula in SQL — keep the two in lockstep."""
    import math

    if n_rows <= target_bucket_rows:
        return NEARDUP_PLANES
    return max(NEARDUP_PLANES, min(24, math.ceil(math.log2(n_rows / target_bucket_rows))))


def neardup_hyperplanes(
    dim: int = NEARDUP_DIM,
    n_tables: int = NEARDUP_TABLES,
    n_planes: int = NEARDUP_PLANES,
) -> list[list[list[float]]]:
    """Per-table hyperplane sets, same seeding scheme as
    ann.lsh_bucketed_topk (seed = 42 + 1000*t)."""
    from .ann import _hyperplanes

    return [_hyperplanes(dim, n_planes, seed=42 + 1000 * t) for t in range(n_tables)]


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.45,
    n_tables: int = NEARDUP_TABLES,
    n_planes: int | None = None,
    dim: int = NEARDUP_DIM,
    target_bucket_rows: int = 4096,
) -> DataFrame:
    """Embedding near-dup with sign-LSH-blocked candidate generation —
    the scale path (and the oracle-checked query).

    Plan shape: bucket ids are pure Catalyst expressions in the scan
    projection (one row per (vec, table) after a single explode);
    candidate pairs form via an equi-join on (table, bucket) — pair
    count is quadratic only within a bucket (n/2^n_planes expected
    occupancy), NEVER in the corpus; pair ids are joined back to fetch
    vectors (+ precomputed norms) for the exact cosine, and the pair
    dedup runs AFTER the threshold filter (identical set, tiny
    exchange — see the inline note). No cartesian / BNLJ anywhere
    (asserted in tests/test_plan_shapes.py).

    Recall is the standard multi-table union bound: a pair at angle t
    collides in one table with prob (1 - t/pi)^n_planes; misses decay
    exponentially in n_tables (recall-tested vs the exact variant on
    planted near-dups). Candidates that DO surface get the exact
    cosine, so precision is 1.0 vs the exact variant.

    GEOMETRY IS CORPUS-SIZED BY DEFAULT: 'never quadratic in the
    corpus' is a constant-factor claim at fixed geometry — k planes
    give 2^k buckets per table, so expected candidate pairs grow
    ~n^2/2^k per table. With ``n_planes=None`` (the default, and the
    CHECKED query's mode) the plane count is ``neardup_planes_for(n)``
    from one count() of the corpus: n_planes ~ log2(n /
    target_bucket_rows) (e.g. n=10^9, ~4k rows/bucket -> ~18 planes),
    so per-bucket occupancy — and hence pair count per bucket — stays
    bounded as the corpus grows. The DuckDB oracle twin replays the
    same literal hyperplanes up to the clamp max and derives the SAME
    plane count from count(*) in SQL, so both sides agree at any
    corpus size (pinned-vs-sized parity is tested at a forced
    non-default geometry in tests/test_dedup_ann.py)."""
    from .ann import cosine_expr, sign_bucket_col

    if n_planes is None:
        n_planes = neardup_planes_for(embeddings.count(), target_bucket_rows)
    e = widen_narrow_scan(embeddings).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    tables = neardup_hyperplanes(dim, n_tables, n_planes)
    # materialize bucket ids once: the self-join would otherwise
    # evaluate all n_tables * n_planes dot-product expressions twice
    # (once per side); the bucket table is (vec_id, tbl, b) — tiny.
    # The per-table bucket ids are computed as SEPARATE projection
    # columns BELOW the explode: one flattened expression holding every
    # table's dots exceeds the JVM method-size limit, failing codegen
    # compilation and dropping the whole stage to interpreted eval
    # (measured ~10x on this stage); per-column expressions split into
    # their own generated methods and stay compiled. Values unchanged.
    bcols = [
        sign_bucket_col("v", planes).alias(f"_b{t}")
        for t, planes in enumerate(tables)
    ]
    eb = materialize_with_stats(
        e.select("vec_id", *bcols)
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(t).alias("tbl"), F.col(f"_b{t}").alias("b"))
                        for t in range(len(tables))
                    ]
                )
            ).alias("tb"),
        )
        .select("vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.b").alias("b"))
    )
    l, r = eb.alias("l"), eb.alias("r")
    # NO distinct here: multi-table collisions duplicate a pair ~1.15x
    # at corpus bucket occupancy, so deduplicating the raw pair stream
    # costs a full exchange of tens of millions of rows to save ~15%
    # of the (cheap, broadcast-joined) cosine evaluations. The distinct
    # moves BELOW the threshold filter instead — identical result set
    # (cos is functionally determined by the pair), but the exchange
    # then carries only the few surviving near-dup rows (measured
    # 18.4s -> 15.9s on this stage chain at sf1.0).
    cands = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.b") == F.col("r.b"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec_a"), F.col("r.vec_id").alias("vec_b"))
    )
    from .ann import dot_expr, norm_expr

    # per-vector norms computed ONCE in the (tiny) vector relation and
    # carried through the pair join: cos = dot/(na*nb) with the same
    # per-component doubles and association as the inline form, so the
    # value is bit-identical while the per-pair arithmetic drops from
    # three unrolled folds to one
    en = e.select("vec_id", "v", norm_expr(F.col("v")).alias("nrm"))
    va = en.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = en.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a", "vec_b",
            F.round(
                dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
        .distinct()
    )
