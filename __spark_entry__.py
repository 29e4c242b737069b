"""Checked query registry for the crawl engine's operators.

``entry()`` is the flagship crawl-schedule shape. ``queries()`` exposes
one entry per engine operator family the crawl and its curation path
run (dedup, ANN, packing, phash, collision naming, the per-host budget
top-k, the retry backoff, the filename/path/header expressions of
finalize and text stats), each mapped onto the testdata tables;
``oracle_sql()`` gives the DuckDB twin of each entry (identical
hashing: md5-derived 56-bit ints, polynomial char folds — verified
primitive-by-primitive). An entry checks code the crawl or a curation
query runs, never a Column twin of a Python kernel: the kernels the
page pass runs per row (routing, the URL fallback title, Memento
navigation) and the epoch pipeline itself are verified in tests/
against the sequential oracle instead.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from web_archive_downloader_spark.functions.scalar import (
    backoff_epochs_col,
    format_archived_ts_col,
    sanitize_filename_col,
)
from web_archive_downloader_spark.functions.textstats import document_stats
from web_archive_downloader_spark.operators.ann import brute_force_topk
from web_archive_downloader_spark.operators.collisions import assign_collision_names
from web_archive_downloader_spark.operators.dedup import (
    _perm_params,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    signature_clusters,
    similarity_pairs,
    simhash,
)
from web_archive_downloader_spark.operators.packing import pack_sequences

from web_archive_downloader_spark.operators.dedup import MOD  # noqa: E402

ANN_QUERY_IDS = [3, 17, 42, 111, 256]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl-schedule shape (A1 latest-per-key ->
    J1 anti-join -> per-host budget top-k) over sf0.001 events."""
    sf = "/root/testdata/sf0.001"
    events = _t(spark, sf, "events")
    # latest event per user (A1), excluding users whose latest is an
    # error (seen-set analog), then top-16 users by value (budget)
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.asc("event_id"))
    latest = (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    errors = latest.filter(F.col("event_type") == "error").select("user_id")
    ok = latest.join(errors, "user_id", "left_anti")
    # global top-k via orderBy().limit(k): Spark plans
    # TakeOrderedAndProject (per-partition top-k + driver merge), not a
    # single-partition global sort window. Rank is attached AFTER the
    # limit, so the window runs over k rows, not the whole table.
    w2 = Window.orderBy(F.desc("value"), F.asc("user_id"))
    return (
        ok.orderBy(F.desc("value"), F.asc("user_id"))
        .limit(16)
        .withColumn("rank", F.row_number().over(w2))
        .select("user_id", "event_id", "event_type", "value", "rank")
    )


# ------------------------------------------------------------- queries

def _q_budgeted_topk(spark, sf):
    """per_host_topk with a PER-KEY budget column, as run_epoch calls
    it after the robots gate joins each host's crawl_delay-derived
    token count: each user's cap varies, users without a budget fall
    back to k, budgets above k clamp to k."""
    from web_archive_downloader_spark.operators.schedule import per_host_topk

    ev = _t(spark, sf, "events")
    frontier = ev.select(
        F.concat(F.lit("https://u/"), F.col("event_id").cast("string")).alias("url"),
        F.col("user_id").alias("host"),
        F.lit(0.0).alias("priority"),
        F.lit(0).alias("depth"),
        F.col("event_id").alias("seq"),
    )
    budgets = (
        ev.select("user_id").distinct()
        .filter(F.col("user_id") % 2 == 0)  # half the keys get explicit budgets
        .select(
            F.col("user_id").alias("host"),
            (F.col("user_id") % 5 + 1).cast("int").alias("host_budget"),
        )
    )
    budgeted = frontier.join(F.broadcast(budgets), "host", "left")
    return per_host_topk(budgeted, 3, 4, budget_col="host_budget").select(
        F.col("host").alias("user_id"), F.col("seq").alias("event_id"), "host_rank"
    )


def _q_backoff(spark, sf):
    ev = _t(spark, sf, "events")
    attempt = (F.col("event_id") % 4 + 1).cast("int")
    return (
        ev.select(attempt.alias("attempt"), backoff_epochs_col(attempt).alias("backoff_epochs"))
        .groupBy("attempt", "backoff_epochs")
        .agg(F.count("*").alias("n"))
    )


def _q_sanitize_docs(spark, sf):
    d = _t(spark, sf, "documents")
    raw = F.concat(F.lit(" . "), F.substring("text", 1, 30), F.lit("? "))
    return d.select("doc_id", sanitize_filename_col(raw).alias("fname"))


def _q_ts_format(spark, sf):
    ev = _t(spark, sf, "events")
    ts14 = F.date_format("ts", "yyyyMMddHHmmss")
    return ev.select("event_id", format_archived_ts_col(ts14).alias("archived_ts"))


def _q_collision_names(spark, sf):
    d = _t(spark, sf, "documents")
    saves = d.select(
        F.col("source").alias("dir"),
        F.col("lang").alias("base"),
        F.lit(".md").alias("ext"),
        F.lit("page").alias("style"),
        F.col("doc_id").alias("save_seq"),
    )
    return assign_collision_names(saves).select(
        F.col("save_seq").alias("doc_id"), "dir", "filename"
    )


def _q_html_names(spark, sf):
    """SNK2 naming: every doc saves BOTH a .md and a .html file with
    the same (dir, base) — the collision namespaces must stay
    independent per extension (the reference's exists-probe includes
    the extension, file_handler.py:180-188), so each ext gets its own
    -N counter sequence."""
    d = _t(spark, sf, "documents")
    md = d.select(
        F.col("source").alias("dir"),
        F.col("lang").alias("base"),
        F.lit(".md").alias("ext"),
        F.lit("page").alias("style"),
        (F.col("doc_id") * 2).alias("save_seq"),
    )
    html = d.select(
        F.col("source").alias("dir"),
        F.col("lang").alias("base"),
        F.lit(".html").alias("ext"),
        F.lit("page").alias("style"),
        (F.col("doc_id") * 2 + 1).alias("save_seq"),
    )
    return assign_collision_names(md.unionByName(html)).select(
        "save_seq", "dir", "ext", "filename"
    )


def _q_dedup_exact(spark, sf):
    return exact_dedup(_t(spark, sf, "documents"))


def _q_minhash_sig(spark, sf):
    sig = minhash_signatures(_t(spark, sf, "documents"), k=16)
    return sig.select("doc_id", F.posexplode("sig").alias("i", "minv"))


def _q_sig_clusters(spark, sf):
    return signature_clusters(_t(spark, sf, "documents"), k=16)


def _q_lsh_candidates(spark, sf):
    return minhash_lsh_candidates(_t(spark, sf, "documents"), k=16, bands=4)


def _q_similarity_pairs(spark, sf):
    """One checked entry for the candidate-ranking similarity suite:
    exact token Jaccard + bigram Jaccard + MinHash signature estimate,
    computed in a SINGLE candidate join (operators/dedup.py
    similarity_pairs — consolidates the former jaccard_pairs /
    ngram_jaccard / minhash_jaccard_estimate entries; at scale the
    candidate relation joins twice total instead of six times). The
    candidates and the features read the same signatures, so the query
    materializes them once and hands them to both; like every
    materialization, they live until the caller's unpersist or
    clearCache."""
    from web_archive_downloader_spark.partitioning import materialize_with_stats

    d = _t(spark, sf, "documents")
    sig = materialize_with_stats(minhash_signatures(d, k=16))
    return similarity_pairs(
        d, minhash_lsh_candidates(d, k=16, bands=4, sig=sig), sig=sig, k=16, n=2
    )


def _q_sequence_packing(spark, sf):
    """Sequence packing (operators/packing.py): documents -> fixed
    token-budget training sequences, greedy first-fit in doc_id order
    within doc_id%8 shards, budget=256 whitespace tokens. Exactly one
    shuffle (the shard exchange feeding applyInPandas); token counts
    ride the scan projection. The DuckDB twin replays the identical
    greedy fold as a linear recursive CTE."""
    d = _t(spark, sf, "documents")
    from web_archive_downloader_spark.functions.textstats import token_count_col

    toks = d.select(
        "doc_id", token_count_col(F.col("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(toks, budget=256, n_shards=8)


def _q_simhash(spark, sf):
    return simhash(_t(spark, sf, "documents"), bits=32)


def _q_simhash_pairs(spark, sf):
    """Chunk-blocked simhash near-dup pairs (pigeonhole: hamming<=3
    over 32 bits guarantees one equal 8-bit chunk) — candidate join is
    an equi-join on (chunk, key), never all-pairs."""
    from web_archive_downloader_spark.operators.dedup import simhash_near_dups

    return simhash_near_dups(_t(spark, sf, "documents"), bits=32, max_hamming=3)


def _q_dedup_components(spark, sf):
    """Dedup clustering: connected components over exact-hash star +
    same-signature star + Jaccard-verified LSH edges, by iterative
    min-label propagation in which each round reads only the previous
    round's checkpointed labels (operators/dedup.py:connected_components).
    The DuckDB twin computes the same components with a recursive
    CTE."""
    from web_archive_downloader_spark.operators.dedup import dedup_components

    return dedup_components(_t(spark, sf, "documents"), jaccard_threshold=0.4)


def _q_corpus_selection(spark, sf):
    """The flagship training-data operation end-to-end: keep one
    representative per near-dup cluster (dedup_components) that also
    passes the quality gate (document_stats: quality score + token
    floor). Composes the two independently-checked relations; the
    DuckDB twin composes the recursive-CTE components with the stats
    SQL the same way. Output: the keep-list with its audit columns."""
    from web_archive_downloader_spark.operators.dedup import dedup_components

    from web_archive_downloader_spark.partitioning import widen_narrow_scan

    d = _t(spark, sf, "documents")
    comp = dedup_components(d, jaccard_threshold=0.4)
    csize = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    stats = document_stats(widen_narrow_scan(d)).select(
        "doc_id", "quality", "n_tokens", "lang_pred"
    )
    return (
        comp.join(csize, "component")
        .join(stats, "doc_id")
        .filter(
            (F.col("doc_id") == F.col("component"))
            & (F.col("quality") >= 0.5)
            & (F.col("n_tokens") >= 5)
        )
        .select("doc_id", "cluster_size", "quality", "n_tokens", "lang_pred")
    )


def _q_ann_bruteforce(spark, sf):
    return brute_force_topk(_t(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10)


def _q_ann_lsh_topk(spark, sf):
    """The SCALE ANN path as a CHECKED query: multi-table sign-LSH
    with 1-bit multiprobe (operators/ann.py:lsh_bucketed_topk). The
    DuckDB twin replays the same literal hyperplanes (the
    literal-plane technique from the neardup twin), so the candidate
    sets — and hence the approximate top-k — are identical, not just
    recall-gated."""
    from web_archive_downloader_spark.operators.ann import lsh_bucketed_topk

    return lsh_bucketed_topk(
        _t(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10
    )


@functools.lru_cache(maxsize=8)
def _ivf_centroids(sf_dir: str, n_clusters: int = 16, iters: int = 5) -> tuple:
    """Deterministic IVF codebook shared by the engine query and the
    DuckDB twin: plain Lloyd's in numpy float64 over the vec_id-sorted
    embeddings, init = first n_clusters vectors (no RNG). Both sides
    consume the RESULTING centroid literals, so cross-engine identity
    only requires the (shared, literal) inputs — the per-row
    assignment argmin is recomputed in each engine with the same
    left-to-right fold. Production analog: codebooks are trained
    offline and shipped to the job as data. Memoized (lru_cache) so
    repeated queries()/oracle_sql() calls pay the read+Lloyd's once
    per corpus; returns a tuple-of-tuples for hashability.

    BOUNDED (round-4 verdict item 2): the training sample is capped at
    the first 4096 vec_ids — still fully deterministic, and both twins
    consume the identical resulting literals, so parity is unaffected
    while the harness's driver memory stays O(4096 x dim) at any sf
    (previously the whole embeddings relation was fetchall'd; at sf1+
    the HARNESS would OOM before the engine did). Production analog
    unchanged: codebooks train offline on a sample anyway."""
    import duckdb as _dd
    import numpy as _np

    rows = _dd.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    X = _np.array([r[0] for r in rows], dtype=_np.float64)
    C = X[:n_clusters].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)  # ties -> lowest cluster id, same as both twins
        for j in range(n_clusters):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(0)
    return tuple(tuple(row) for row in C.tolist())


def _q_ann_ivf_topk(spark, sf):
    """IVF ANN as a CHECKED query: precomputed deterministic codebook
    (offline-trained in production; here Lloyd's over the corpus —
    _ivf_centroids), literal-centroid argmin assignment, n_probe
    nearest lists per query, exact cosine + rank. The DuckDB twin
    replays the identical codebook literals, so the probe lists and
    the approximate top-k match exactly — the third ANN path joins
    brute-force and LSH in the oracle-checked set."""
    from web_archive_downloader_spark.operators.ann import ivf_topk

    return ivf_topk(
        _t(spark, sf, "embeddings"), ANN_QUERY_IDS, k=10, n_probe=3,
        centroids=_ivf_centroids(sf),
    )


def _phash_input(spark, sf):
    """Deterministic surrogate image relation for the phash near-dup
    CHECKED query: testdata has no image table, so (image_id, phash)
    derive from documents — groups of 10 docs share a 56-bit md5 base
    hash; members differ from the base in <= 2 controlled bit
    positions (so within-group pairs sit at hamming <= 4, across
    groups ~28 random bits apart). The operator under test
    (operators/images.py:phash_near_dups) is the real engine path;
    only the input is synthesized, mirrored exactly in SQL."""
    from web_archive_downloader_spark.functions.textstats import md5_hash56_col

    d = _t(spark, sf, "documents")
    g = F.floor(F.col("doc_id") / 10).cast("long")
    # shiftleft with a COLUMN bit count needs the SQL form (the
    # DataFrame helper only takes a literal numBits)
    pert = F.expr(
        "CASE WHEN doc_id % 10 = 0 THEN 0L"
        " ELSE shiftleft(1L, cast(doc_id % 10 - 1 AS int))"
        "    + shiftleft(1L, cast(doc_id % 10 + 20 AS int)) END"
    )
    return d.select(
        F.col("doc_id").alias("image_id"),
        md5_hash56_col(g.cast("string")).bitwiseXOR(pert).alias("phash"),
    )


def _q_phash_pairs(spark, sf):
    """Image near-dup by perceptual-hash hamming distance, pigeonhole-
    blocked (7 chunks over the 56-bit surrogate phash; max_hamming=6
    <= chunks-1 preserves the no-miss guarantee)."""
    from web_archive_downloader_spark.operators.images import phash_near_dups

    return phash_near_dups(_phash_input(spark, sf), max_hamming=6, chunks=7)


def _q_text_stats(spark, sf):
    from web_archive_downloader_spark.partitioning import widen_narrow_scan

    # per-row projection: results are partitioning-independent, so the
    # narrow single-row-group scan is widened before the expensive
    # per-char/regex feature expressions (guide §2.2/§6)
    return document_stats(widen_narrow_scan(_t(spark, sf, "documents")))


def _q_token_counts(spark, sf):
    """Token counting both ways the brief names: whitespace tokens and
    a BPE-ish pre-tokenizer regex (sequence-length budgeting before
    real BPE). Pure scan-side projection; the DuckDB twin runs the
    same regex under RE2 — leftmost-first alternation matches Java's."""
    from web_archive_downloader_spark.functions.textstats import (
        bpe_ish_token_count_col,
        token_count_col,
    )
    from web_archive_downloader_spark.partitioning import widen_narrow_scan

    d = widen_narrow_scan(_t(spark, sf, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_col(t).alias("n_tokens_ws"),
        bpe_ish_token_count_col(t).alias("n_tokens_bpe"),
    )


def _q_stratified_sample(spark, sf):
    """Deterministic hash-based stratified sampling — the
    training-data downsampling primitive. Per-language keep rates
    applied via a PORTABLE md5-derived hash of the doc id (never an
    RNG: resumable, cluster-size-independent, reproducible across
    engines — the DuckDB twin computes the identical hash). Pure
    projection + filter: no shuffle, predicate folds into the scan."""
    from web_archive_downloader_spark.functions.textstats import md5_hash56_col

    d = _t(spark, sf, "documents")
    bucket = F.pmod(md5_hash56_col(F.col("doc_id").cast("string")), F.lit(1000))
    rate = (
        F.when(F.col("lang") == "en", 500)
        .when(F.col("lang") == "fr", 300)
        .otherwise(100)
    )
    return d.filter(bucket < rate).select("doc_id", "lang", bucket.alias("sample_bucket"))


def _q_page_dir(spark, sf):
    from web_archive_downloader_spark.functions.scalar import page_dir_col

    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://ex.com/"), F.col("source"), F.lit("/sub%20dir/item-"),
        F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", page_dir_col(url).alias("dir"))


def _q_markdown_header(spark, sf):
    from web_archive_downloader_spark.functions.scalar import markdown_header_col

    ev = _t(spark, sf, "events")
    ts14 = F.date_format("ts", "yyyyMMddHHmmss")
    title = F.concat(F.lit("Event "), F.col("event_id").cast("string"))
    url = F.concat(F.lit("https://ex.com/e/"), F.col("event_id").cast("string"))
    return ev.select("event_id", markdown_header_col(title, url, ts14).alias("header"))


def _q_decontamination(spark, sf):
    """Test-set decontamination (operators/dedup.py
    ngram_decontaminate): docs with doc_id % 50 == 0 stand in for the
    evaluation corpus; every OTHER doc sharing a distinct word 5-gram
    with it is flagged with its overlap count. Broadcast semi-join of
    the (small) eval shingle set into the training scan — the only
    shuffle is the per-doc hit count."""
    from web_archive_downloader_spark.operators.dedup import ngram_decontaminate

    d = _t(spark, sf, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    tr = d.filter(F.col("doc_id") % 50 != 0)
    return ngram_decontaminate(tr, ev, n=5)


def _q_embedding_neardup_lsh(spark, sf):
    """The CHECKED near-dup path is the sign-LSH-blocked one (no
    cartesian) at CORPUS-SIZED geometry: n_planes=None auto-sizes the
    plane count from one count() via neardup_planes_for, and the
    DuckDB twin derives the same count from count(*) in SQL — the
    checked entry runs the geometry you'd run at scale. The exact
    O(n^2) variant survives only as a recall reference in
    tests/test_dedup_ann.py."""
    from web_archive_downloader_spark.operators.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(_t(spark, sf, "embeddings"), threshold=0.45)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # One checked entry per engine operator family the crawl or a
    # curation query runs (tests/test_no_orphans.py:REGISTRY_ONLY names
    # the operators only this registry reaches). Every key has a DuckDB
    # twin in oracle_sql() (tests/test_entry_parity.py asserts the two
    # key sets are equal). What a query materializes stays cached until
    # its caller releases it (unpersist, spark.catalog.clearCache());
    # a harness that repeats a query clears the cache first.
    return {
        # --- curation: packing, similarity, ANN, image near-dups ---
        "sequence_packing": _q_sequence_packing,
        "similarity_pairs": _q_similarity_pairs,
        "decontamination": _q_decontamination,
        "ann_lsh_topk": _q_ann_lsh_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "phash_pairs": _q_phash_pairs,
        # --- training-data operator suite ---
        "embedding_neardup_lsh": _q_embedding_neardup_lsh,
        "dedup_components": _q_dedup_components,
        "corpus_selection": _q_corpus_selection,
        "dedup_exact": _q_dedup_exact,
        "minhash_sig": _q_minhash_sig,
        "sig_clusters": _q_sig_clusters,
        "lsh_candidates": _q_lsh_candidates,
        "simhash": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "ann_bruteforce": _q_ann_bruteforce,
        "text_stats": _q_text_stats,
        "token_counts": _q_token_counts,
        "stratified_sample": _q_stratified_sample,
        # --- crawl-engine operator shapes (SURVEY §2) ---
        "budgeted_topk": _q_budgeted_topk,
        "collision_names": _q_collision_names,
        "html_names": _q_html_names,
        # --- scalar-function shapes (X*) ---
        "backoff": _q_backoff,
        "sanitize_docs": _q_sanitize_docs,
        "ts_format": _q_ts_format,
        "page_dir": _q_page_dir,
        "markdown_header": _q_markdown_header,
    }


# ---------------------------------------------------------- oracle SQL

def _sanitize_expr(inner: str) -> str:
    """DuckDB twin of sanitize_filename_col (step order preserved)."""
    s = f"regexp_replace({inner}, '[\\\\/*?:''\"<>|]', '', 'g')"
    s = f"regexp_replace({s}, '^[ .]+', '')"
    s = f"regexp_replace({s}, '[ .]+$', '')"
    s = f"replace({s}, ' ', '_')"
    s = f"substr({s}, 1, 100)"
    s = f"regexp_replace({s}, '^[ .]+', '')"
    s = f"regexp_replace({s}, '[ .]+$', '')"
    return f"CASE WHEN length({s}) = 0 THEN 'untitled' ELSE {s} END"


_H56 = "(('0x' || substr(md5({x}), 1, 14))::BIGINT)"


def _minhash_cte(k: int = 16) -> str:
    params = _perm_params(k)
    rows = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(params))
    h = "(('0x' || substr(md5(tok), 1, 7))::BIGINT)"  # 28-bit, overflow-free
    return f"""
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS tok
  FROM documents WHERE length(trim(text)) > 0
),
params(i, a, b) AS (VALUES {rows}),
hashes AS (
  SELECT doc_id, {h} AS h FROM toks WHERE length(tok) > 0
),
minh AS (
  SELECT doc_id, i, min((a * h + b) % {MOD}) AS minv
  FROM hashes CROSS JOIN params
  GROUP BY doc_id, i
)"""


def _lsh_cte(k: int = 16, bands: int = 4) -> str:
    # pairs enumerate signature-cluster REPRESENTATIVES only (see
    # operators/dedup.py:minhash_lsh_candidates)
    rpb = k // bands
    return f"""{_minhash_cte(k)},
sigs AS (
  SELECT doc_id, string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig_key
  FROM minh GROUP BY doc_id
),
reps AS (SELECT sig_key, min(doc_id) AS rep_id, count(*) AS cluster_size
         FROM sigs GROUP BY sig_key),
banded AS (
  SELECT m.doc_id, i // {rpb} AS band,
         string_agg(minv::VARCHAR, ',' ORDER BY i) AS key
  FROM minh m JOIN reps r ON m.doc_id = r.rep_id
  GROUP BY m.doc_id, i // {rpb}
),
cands AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
)"""


_TOKSET = "list_distinct(list_filter(string_split_regex(trim({t}), '\\s+'), x -> length(x) > 0))"


def _neardup_lsh_sql(threshold: float = 0.45, target_bucket_rows: int = 4096) -> str:
    """DuckDB twin of embedding_neardup_lsh: the SAME seeded
    hyperplanes as literal DOUBLE[] rows; the dot-product fold is
    list_reduce over list_transform in index order — identical
    left-to-right double arithmetic to Spark's F.aggregate(zip_with),
    so bucket signs match bit-for-bit and the candidate sets are
    identical.

    CORPUS-SIZED GEOMETRY: the plane count is not pinned — the SQL
    derives it from count(*) with the same formula as
    dedup.neardup_planes_for (clamp [5, 24]); planes are generated as
    literals out to the clamp max (prefix-stable: the first k rows of
    a seeded 24-plane draw equal a k-plane draw) and rows beyond the
    derived count are filtered before the dot products."""
    from web_archive_downloader_spark.operators.dedup import (
        NEARDUP_DIM,
        NEARDUP_PLANES,
        neardup_hyperplanes,
    )

    MAX_PLANES = 24
    rows = []
    for t, planes in enumerate(
        neardup_hyperplanes(n_planes=MAX_PLANES)
    ):
        for p, plane in enumerate(planes):
            vals = ", ".join(repr(x) for x in plane)
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    tbr = target_bucket_rows
    return f"""
        WITH np AS (
          SELECT CASE WHEN count(*) <= {tbr} THEN {NEARDUP_PLANES}
                 ELSE GREATEST({NEARDUP_PLANES}, LEAST({MAX_PLANES},
                      CAST(ceil(log2(count(*) / {tbr}.0)) AS INT))) END AS k
          FROM embeddings
        ),
        planes(tbl, pl, w) AS (VALUES {values}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dots AS (
          SELECT e.vec_id, p.tbl, p.pl,
                 list_reduce(
                   list_prepend(0.0::DOUBLE,
                     list_transform(range(1, {NEARDUP_DIM + 1}), i -> e.v[i] * p.w[i])),
                   (a, b) -> a + b) AS dot
          FROM e CROSS JOIN planes p
          WHERE p.pl < (SELECT k FROM np)
        ),
        buckets AS (
          SELECT vec_id, tbl,
                 sum(CASE WHEN dot > 0 THEN (1::BIGINT << pl) ELSE 0 END)::BIGINT AS b
          FROM dots GROUP BY vec_id, tbl
        ),
        cands AS (
          SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
          FROM buckets l JOIN buckets r
            ON l.tbl = r.tbl AND l.b = r.b AND l.vec_id < r.vec_id
        )
        SELECT vec_a, vec_b,
               round(list_cosine_similarity(a.v, b.v), 4) AS cos
        FROM cands
        JOIN e a ON a.vec_id = vec_a
        JOIN e b ON b.vec_id = vec_b
        WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {threshold}
    """


def _ann_lsh_sql(k: int = 10, n_planes: int = 4, n_tables: int = 8) -> str:
    """DuckDB twin of lsh_bucketed_topk: literal hyperplanes (same
    seeds, prefix-stable with the neardup set), identical left-to-right
    dot fold, 1-bit multiprobe expansion, candidate equi-join on
    (table, bucket), exact cosine + per-query rank — the same
    approximate result set, not merely recall-agreement."""
    from web_archive_downloader_spark.operators.ann import _hyperplanes
    from web_archive_downloader_spark.operators.dedup import NEARDUP_DIM

    rows = []
    for t in range(n_tables):
        for p, plane in enumerate(_hyperplanes(NEARDUP_DIM, n_planes, seed=42 + 1000 * t)):
            vals = ", ".join(repr(x) for x in plane)
            rows.append(f"({t}, {p}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    qids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    probe_bits = ", ".join(["-1"] + [str(i) for i in range(n_planes)])
    return f"""
        WITH planes(tbl, pl, w) AS (VALUES {values}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dots AS (
          SELECT e.vec_id, p.tbl, p.pl,
                 list_reduce(
                   list_prepend(0.0::DOUBLE,
                     list_transform(range(1, {NEARDUP_DIM + 1}), i -> e.v[i] * p.w[i])),
                   (a, b) -> a + b) AS dot
          FROM e CROSS JOIN planes p
        ),
        buckets AS (
          SELECT vec_id, tbl,
                 sum(CASE WHEN dot > 0 THEN (1::BIGINT << pl) ELSE 0 END)::BIGINT AS b
          FROM dots GROUP BY vec_id, tbl
        ),
        probes AS (
          SELECT q.vec_id AS query_id, q.tbl AS qtbl,
                 CASE WHEN pb.pb = -1 THEN q.b
                      ELSE xor(q.b, (1::BIGINT << pb.pb)) END AS qb
          FROM buckets q CROSS JOIN (SELECT unnest([{probe_bits}]) AS pb) pb
          WHERE q.vec_id IN ({qids})
        ),
        cand AS (
          SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
          FROM buckets c JOIN probes p
            ON c.tbl = p.qtbl AND c.b = p.qb AND c.vec_id != p.query_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_cosine_similarity(qe.v, ne.v), 4) AS cos
          FROM cand
          JOIN e qe ON qe.vec_id = cand.query_id
          JOIN e ne ON ne.vec_id = cand.neighbor_id
        )
        SELECT query_id, rn AS rank, neighbor_id, cos
        FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rn
          FROM scored
        ) WHERE rn <= {k}
    """


def _ivf_sql(k: int = 10, n_probe: int = 3) -> str:
    """DuckDB twin of the checked IVF query: the SAME codebook
    literals (_ivf_centroids over the canonical sf0.01 corpus the
    driver checks against), identical left-to-right squared-distance
    fold, argmin assignment with (d, cluster) tie order, n_probe
    probe lists, exact cosine + per-query rank."""
    from web_archive_downloader_spark.operators.dedup import NEARDUP_DIM

    # The twin is defined at the DRIVER'S check corpus (the tables its
    # DuckDB views point at — sf0.01 per the harness contract;
    # override with SPARK_GRAFT_ORACLE_SF for a different oracle dir).
    # At any other sf the ENGINE query stays self-consistent (it
    # derives its codebook from the corpus it is given); only this
    # twin is bound to the checked corpus — same binding as every
    # other oracle_sql() entry, which the driver runs at sf0.01 only.
    cents = _ivf_centroids(
        os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    )
    rows = []
    for ci, c in enumerate(cents):
        vals = ", ".join(repr(x) for x in c)
        rows.append(f"({ci}, [{vals}]::DOUBLE[])")
    values = ",\n".join(rows)
    qids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
        WITH cents(cluster, c) AS (VALUES {values}),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        dists AS (
          SELECT e.vec_id, cents.cluster,
                 list_reduce(
                   list_prepend(0.0::DOUBLE,
                     list_transform(range(1, {NEARDUP_DIM + 1}),
                                    i -> (e.v[i] - c[i]) * (e.v[i] - c[i]))),
                   (a, b) -> a + b) AS d
          FROM e CROSS JOIN cents
        ),
        ranked AS (
          SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
          FROM dists
        ),
        assigned AS (SELECT vec_id, cluster FROM ranked WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, cluster AS qc
          FROM ranked WHERE rn <= {n_probe} AND vec_id IN ({qids})
        ),
        cand AS (
          SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
          FROM assigned a JOIN probes p
            ON a.cluster = p.qc AND a.vec_id != p.query_id
        ),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 round(list_cosine_similarity(qe.v, ne.v), 4) AS cos
          FROM cand
          JOIN e qe ON qe.vec_id = cand.query_id
          JOIN e ne ON ne.vec_id = cand.neighbor_id
        )
        SELECT query_id, rn AS rank, neighbor_id, cos
        FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rn
          FROM scored
        ) WHERE rn <= {k}
    """


def _phash_pairs_sql(max_hamming: int = 6, chunks: int = 7) -> str:
    """DuckDB twin of phash_near_dups over the same surrogate phash
    input (_phash_input): md5-56 group base xor controlled
    perturbation, explode chunk keys, equi-join, xor + bit_count."""
    width = 64 // chunks
    h56 = _H56.format(x="CAST(CAST(floor(doc_id / 10) AS BIGINT) AS VARCHAR)")
    return f"""
        WITH imgs AS (
          SELECT doc_id AS image_id,
                 xor({h56},
                     CASE WHEN doc_id % 10 = 0 THEN 0::BIGINT
                          ELSE (1::BIGINT << CAST(doc_id % 10 - 1 AS INT))
                             + (1::BIGINT << CAST(doc_id % 10 + 20 AS INT)) END
                 ) AS phash
          FROM documents
        ),
        keyed AS (
          SELECT image_id, phash, c.chunk,
                 (phash >> (c.chunk * {width})) & {(1 << width) - 1} AS key
          FROM imgs CROSS JOIN (SELECT unnest(range({chunks})) AS chunk) c
        )
        SELECT DISTINCT l.image_id AS img_a, r.image_id AS img_b,
               bit_count(xor(l.phash, r.phash)) AS hamming
        FROM keyed l JOIN keyed r
          ON l.chunk = r.chunk AND l.key = r.key AND l.image_id < r.image_id
        WHERE bit_count(xor(l.phash, r.phash)) <= {max_hamming}
    """


def oracle_sql() -> dict[str, str]:
    h56_tok = _H56.format(x="tok")
    tokset_a = _TOKSET.format(t="a.text")
    tokset_b = _TOKSET.format(t="b.text")
    simhash_terms = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(32)
    )
    lang_hits = {
        lang: " + ".join(
            f"CAST(floor((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' {w} ', ''))) / {len(w) + 2}) AS INT)"
            for w in ws
        )
        for lang, ws in {
            "en": ("the", "and", "of"),
            "fr": ("le", "la", "les"),
            "es": ("el", "los", "las"),
            "de": ("der", "die", "und"),
        }.items()
    }
    # text_stats SELECT, reused verbatim by corpus_selection's stats CTE
    text_stats_select = f"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS n_tokens,
                   round(CASE WHEN length(text) > 0
                         THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')))::DOUBLE / length(text)
                         ELSE 0 END, 4) AS punct_ratio,
                   round(CASE WHEN length(text) > 0
                         THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text)
                         ELSE 0 END, 4) AS alpha_ratio,
                   round(0.5 * least(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0))::DOUBLE / 50.0, 1.0)
                       + 0.3 * (CASE WHEN length(text) > 0 THEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE / length(text) ELSE 0 END)
                       + 0.2 * (1.0 - least((CASE WHEN length(text) > 0 THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]-]', '', 'g')))::DOUBLE / length(text) ELSE 0 END) * 5.0, 1.0)), 4) AS quality,
                   CASE WHEN length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) * 2 > length(text) THEN 'zh'
                        WHEN ({lang_hits['en']}) >= ({lang_hits['fr']}) AND ({lang_hits['en']}) >= ({lang_hits['es']}) AND ({lang_hits['en']}) >= ({lang_hits['de']}) THEN 'en'
                        WHEN ({lang_hits['fr']}) >= ({lang_hits['es']}) AND ({lang_hits['fr']}) >= ({lang_hits['de']}) THEN 'fr'
                        WHEN ({lang_hits['es']}) >= ({lang_hits['de']}) THEN 'es'
                        ELSE 'de' END AS lang_pred,
                   list_reduce(list_prepend(0::BIGINT,
                               list_transform(list_filter(string_split(text, ''), c -> length(c) > 0),
                                              c -> unicode(c)::BIGINT)),
                               (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
            FROM documents
    """
    return {
        "budgeted_topk": """
            SELECT user_id, event_id, host_rank
            FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS host_rank
              FROM events
            ) r
            WHERE host_rank <= least(
              CASE WHEN user_id % 2 = 0 THEN CAST(user_id % 5 + 1 AS INT) ELSE 3 END, 3)
        """,
        "backoff": """
            SELECT attempt, CAST(pow(2, attempt - 1) AS INT) AS backoff_epochs, count(*) AS n
            FROM (SELECT CAST(event_id % 4 + 1 AS INT) AS attempt FROM events)
            GROUP BY 1, 2
        """,
        "sanitize_docs": f"""
            SELECT doc_id, {_sanitize_expr("(' . ' || substr(text, 1, 30) || '? ')")} AS fname
            FROM documents
        """,
        "ts_format": """
            SELECT event_id, strftime(strptime(strftime(ts, '%Y%m%d%H%M%S'), '%Y%m%d%H%M%S'),
                   '%Y-%m-%d %H:%M:%S') AS archived_ts
            FROM events
        """,
        "collision_names": """
            SELECT doc_id, dir,
                   CASE WHEN rn = 1 THEN base || '.md'
                        ELSE base || '-' || (rn - 1) || '.md' END AS filename
            FROM (SELECT doc_id, source AS dir, lang AS base,
                         row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
                  FROM documents)
        """,
        "html_names": """
            SELECT save_seq, dir, ext,
                   CASE WHEN rn = 1 THEN base || ext
                        ELSE base || '-' || (rn - 1) || ext END AS filename
            FROM (SELECT save_seq, dir, base, ext,
                         row_number() OVER (PARTITION BY dir, base, ext
                                            ORDER BY save_seq) AS rn
                  FROM (SELECT doc_id * 2 AS save_seq, source AS dir,
                               lang AS base, '.md' AS ext FROM documents
                        UNION ALL
                        SELECT doc_id * 2 + 1, source, lang, '.html' FROM documents))
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "minhash_sig": f"""
            WITH {_minhash_cte(16)}
            SELECT doc_id, i, minv FROM minh
        """,
        "sig_clusters": f"""
            WITH {_minhash_cte(16)},
            sigs AS (
              SELECT doc_id, string_agg(minv::VARCHAR, ',' ORDER BY i) AS sig_key
              FROM minh GROUP BY doc_id
            )
            SELECT sig_key, min(doc_id) AS rep_id, count(*) AS cluster_size
            FROM sigs GROUP BY sig_key
        """,
        "lsh_candidates": f"""
            WITH {_lsh_cte(16, 4)}
            SELECT doc_a, doc_b FROM cands
        """,
        "similarity_pairs": f"""
            WITH {_lsh_cte(16, 4)},
            grams AS (
              SELECT doc_id,
                     list_distinct(list_transform(range(1, greatest(len(t), 1)),
                                                  i -> t[i] || ' ' || t[i+1])) AS sh
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0) AS t
                    FROM documents)
            ),
            est AS (
              SELECT c.doc_a, c.doc_b,
                     round(sum(CASE WHEN ma.minv = mb.minv THEN 1 ELSE 0 END)::DOUBLE / 16, 6) AS jaccard_est
              FROM cands c
              JOIN minh ma ON ma.doc_id = c.doc_a
              JOIN minh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
              GROUP BY c.doc_a, c.doc_b
            )
            SELECT c.doc_a, c.doc_b,
                   round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                         / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) AS jaccard,
                   round(len(list_intersect(ga.sh, gb.sh))::DOUBLE
                         / len(list_distinct(list_concat(ga.sh, gb.sh))), 6) AS ngram_jaccard,
                   est.jaccard_est
            FROM cands c
            JOIN (SELECT doc_id, {tokset_a} AS toks FROM documents a) ta ON ta.doc_id = c.doc_a
            JOIN (SELECT doc_id, {tokset_b} AS toks FROM documents b) tb ON tb.doc_id = c.doc_b
            JOIN grams ga ON ga.doc_id = c.doc_a
            JOIN grams gb ON gb.doc_id = c.doc_b
            JOIN est ON est.doc_a = c.doc_a AND est.doc_b = c.doc_b
        """,
        "sequence_packing": r"""
            WITH RECURSIVE t AS (
              SELECT doc_id % 8 AS shard, doc_id,
                     len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0))::BIGINT AS n_tokens,
                     row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
              FROM documents
            ),
            walk(shard, rn, doc_id, n_tokens, pack_id, pack_pos, acc) AS (
              SELECT shard, rn, doc_id, n_tokens, 0::BIGINT, 0::BIGINT, n_tokens
              FROM t WHERE rn = 1
              UNION ALL
              SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
                     CASE WHEN w.acc + t.n_tokens <= 256 THEN w.pack_id ELSE w.pack_id + 1 END,
                     CASE WHEN w.acc + t.n_tokens <= 256 THEN w.pack_pos + 1 ELSE 0::BIGINT END,
                     CASE WHEN w.acc + t.n_tokens <= 256 THEN w.acc + t.n_tokens ELSE t.n_tokens END
              FROM walk w JOIN t ON t.shard = w.shard AND t.rn = w.rn + 1
            )
            SELECT shard, pack_id, pack_pos, doc_id, n_tokens FROM walk
        """,
        "simhash": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(list_filter(
                       string_split_regex(trim(text), '\\s+'), x -> length(x) > 0))) AS tok
              FROM documents
            ),
            hashes AS (SELECT doc_id, {h56_tok} AS h FROM toks)
            SELECT doc_id, ({simhash_terms}) AS simhash
            FROM hashes GROUP BY doc_id
        """,
        "dedup_components": f"""
            WITH RECURSIVE {_lsh_cte(16, 4)},
            jac AS (
              SELECT doc_a, doc_b
              FROM cands
              JOIN (SELECT doc_id, {tokset_a} AS toks FROM documents a) ta ON ta.doc_id = doc_a
              JOIN (SELECT doc_id, {tokset_b} AS toks FROM documents b) tb ON tb.doc_id = doc_b
              WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                          / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) >= 0.4
            ),
            exact_star AS (
              SELECT g.rep AS doc_a, d.doc_id AS doc_b
              FROM documents d
              JOIN (SELECT md5(text) AS h, min(doc_id) AS rep
                    FROM documents GROUP BY 1) g ON md5(d.text) = g.h
              WHERE d.doc_id != g.rep
            ),
            sig_star AS (
              SELECT r.rep_id AS doc_a, s.doc_id AS doc_b
              FROM sigs s JOIN reps r USING (sig_key)
              WHERE s.doc_id != r.rep_id
            ),
            edges AS (
              SELECT doc_a, doc_b FROM exact_star
              UNION SELECT doc_a, doc_b FROM sig_star
              UNION SELECT doc_a, doc_b FROM jac
            ),
            edges_sym AS (
              SELECT doc_a AS src, doc_b AS dst FROM edges
              UNION SELECT doc_b, doc_a FROM edges
            ),
            walk(node, label) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.label FROM walk w JOIN edges_sym e ON e.src = w.node
            )
            SELECT node AS doc_id, min(label) AS component
            FROM walk GROUP BY node
        """,
        "simhash_pairs": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(list_filter(
                       string_split_regex(trim(text), '\\s+'), x -> length(x) > 0))) AS tok
              FROM documents
            ),
            hashes AS (SELECT doc_id, {h56_tok} AS h FROM toks),
            sims AS (SELECT doc_id, ({simhash_terms}) AS simhash
                     FROM hashes GROUP BY doc_id),
            chunks AS (
              SELECT doc_id, simhash, t.i AS chunk,
                     (simhash >> (t.i * 8)::INT) & 255 AS key
              FROM sims CROSS JOIN range(4) t(i)
            ),
            cands AS (
              SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                     l.simhash AS sa, r.simhash AS sb
              FROM chunks l JOIN chunks r
                ON l.chunk = r.chunk AND l.key = r.key AND l.doc_id < r.doc_id
            )
            SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
            FROM cands WHERE bit_count(xor(sa, sb)) <= 3
        """,
        "ann_bruteforce": f"""
            SELECT query_id, rn AS rank, neighbor_id, cos
            FROM (
              SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                  CAST(e.embedding AS DOUBLE[])), 4) AS cos,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                             CAST(e.embedding AS DOUBLE[])), 4) DESC,
                                e.vec_id) AS rn
              FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
              WHERE q.vec_id IN ({", ".join(str(i) for i in ANN_QUERY_IDS)})
            ) WHERE rn <= 10
        """,
        "ann_lsh_topk": _ann_lsh_sql(k=10),
        "ann_ivf_topk": _ivf_sql(k=10, n_probe=3),
        "phash_pairs": _phash_pairs_sql(max_hamming=6, chunks=7),
        "page_dir": """
            SELECT doc_id, 'output/' || source || '/sub_dir' AS dir
            FROM documents
        """,
        "markdown_header": """
            SELECT event_id,
                   '# Event ' || event_id || '\\n\\n_Source URL: https://ex.com/e/'
                   || event_id || '_\\n_Archived Timestamp: '
                   || strftime(ts, '%Y-%m-%d %H:%M:%S') || '_\\n\\n' AS header
            FROM events
        """,
        "decontamination": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(range(1, greatest(len(t) - 3, 1)),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS sh
              FROM toks
            ),
            ev AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 50 = 0)
            SELECT g.doc_id, count(*) AS n_hits
            FROM grams g JOIN ev USING (sh)
            WHERE g.doc_id % 50 != 0
            GROUP BY g.doc_id
        """,
        "embedding_neardup_lsh": _neardup_lsh_sql(0.45),
        "stratified_sample": f"""
            SELECT doc_id, lang,
                   {_H56.format(x="doc_id::VARCHAR")} % 1000 AS sample_bucket
            FROM documents
            WHERE {_H56.format(x="doc_id::VARCHAR")} % 1000 <
                  CASE WHEN lang = 'en' THEN 500
                       WHEN lang = 'fr' THEN 300 ELSE 100 END
        """,
        "text_stats": text_stats_select,
        "token_counts": r"""
            SELECT doc_id,
                   len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS n_tokens_ws,
                   len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS n_tokens_bpe
            FROM documents
        """,
        "corpus_selection": f"""
            WITH RECURSIVE {_lsh_cte(16, 4)},
            jac AS (
              SELECT doc_a, doc_b
              FROM cands
              JOIN (SELECT doc_id, {tokset_a} AS toks FROM documents a) ta ON ta.doc_id = doc_a
              JOIN (SELECT doc_id, {tokset_b} AS toks FROM documents b) tb ON tb.doc_id = doc_b
              WHERE round(len(list_intersect(ta.toks, tb.toks))::DOUBLE
                          / len(list_distinct(list_concat(ta.toks, tb.toks))), 6) >= 0.4
            ),
            exact_star AS (
              SELECT g.rep AS doc_a, d.doc_id AS doc_b
              FROM documents d
              JOIN (SELECT md5(text) AS h, min(doc_id) AS rep
                    FROM documents GROUP BY 1) g ON md5(d.text) = g.h
              WHERE d.doc_id != g.rep
            ),
            sig_star AS (
              SELECT r.rep_id AS doc_a, s.doc_id AS doc_b
              FROM sigs s JOIN reps r USING (sig_key)
              WHERE s.doc_id != r.rep_id
            ),
            edges AS (
              SELECT doc_a, doc_b FROM exact_star
              UNION SELECT doc_a, doc_b FROM sig_star
              UNION SELECT doc_a, doc_b FROM jac
            ),
            edges_sym AS (
              SELECT doc_a AS src, doc_b AS dst FROM edges
              UNION SELECT doc_b, doc_a FROM edges
            ),
            walk(node, label) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.dst, w.label FROM walk w JOIN edges_sym e ON e.src = w.node
            ),
            comp AS (
              SELECT node AS doc_id, min(label) AS component
              FROM walk GROUP BY node
            ),
            csize AS (
              SELECT component, count(*) AS cluster_size FROM comp GROUP BY component
            ),
            stats AS ({text_stats_select})
            SELECT c.doc_id, cs.cluster_size, s.quality, s.n_tokens, s.lang_pred
            FROM comp c
            JOIN csize cs USING (component)
            JOIN stats s USING (doc_id)
            WHERE c.doc_id = c.component AND s.quality >= 0.5 AND s.n_tokens >= 5
        """,
    }
