"""Similarity search over the ``embeddings`` table
(vec_id, embedding: array<float>, label).

- brute_force_topk: exact cosine top-k per query — the correctness
  baseline. Plan: broadcast the (small) query set, scan the corpus
  once, per-partition top-k via window-free aggregation is left to
  AQE; at 100 TB the scan is the cost and the broadcast join keeps it
  shuffle-free except the final per-query k-row reduction.
- lsh_bucketed_topk: the scale path — random-hyperplane sign buckets
  (deterministic hyperplanes from a seeded RNG) restrict candidates
  to matching buckets (with multi-probe via allowing 1-bit flips),
  then exact cosine within buckets. Recall tested vs brute force.

Cosine is computed JVM-side with zip_with/aggregate (no UDF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import widen_narrow_scan


def dot_expr(a: Column, b: Column) -> Column:
    """Left-to-right dot-product fold ((0.0 + a0*b0) + a1*b1)... as a
    higher-order zip_with/aggregate.

    NOTE (r06, negative result kept for the record): unrolling this
    into dim explicit Add/Multiply/GetArrayItem terms to reach whole-
    stage codegen FAILS at dim=64 — the per-term null-safe codegen
    (~35 lines each) pushes processNext() past the JVM's 64 KB method
    limit, janino compilation fails, and the WHOLE stage silently falls
    back to interpreted execution, which is SLOWER than this fold
    (measured 40s -> 153s on embedding_neardup_lsh at sf1.0). The fold
    form keeps the rest of the stage compiled."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column) -> Column:
    """L2 norm sqrt(fold(0.0, acc + v*v)) — the exact fold the former
    inline cosine used, so precomputed norms are bit-identical."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns, JVM-side
    (see dot_expr for why this stays a higher-order fold)."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _double_matrix(rows: list[list[float]]) -> str:
    """A list of float vectors as ONE array<array<double>> SQL literal:
    a single parse on the JVM, where building it from per-float
    ``F.lit`` columns costs a py4j round trip per value. Each value is
    written as ``repr(float(x)) + "D"``, the shortest text that parses
    back to the same double, so the literal is exact."""
    return (
        "array("
        + ", ".join("array(" + ", ".join(repr(float(x)) + "D" for x in row) + ")" for row in rows)
        + ")"
    )


def nearest_centroids(v: str, centers: list[list[float]]) -> Column:
    """(d, cluster) for every centroid of the codebook, nearest first,
    for the array<double> column named ``v``. d is the squared
    euclidean distance folded strictly left-to-right ((0.0 + (v0-c0)^2)
    + (v1-c1)^2)..., the order of the DuckDB twin's
    list_transform/list_reduce, so d agrees bit-for-bit; array_sort on
    the (d, cluster) structs breaks ties to the lowest cluster id, as
    the twin's ORDER BY d, cluster does. One SQL expression: building
    it is one py4j call whatever the codebook's size."""
    return F.expr(
        f"array_sort(transform({_double_matrix(centers)}, (c, i) -> named_struct("
        f"'d', aggregate(zip_with({v}, c, (x, y) -> (x - y) * (x - y)), 0D, (a, b) -> a + b), "
        "'cluster', i)))"
    )


def local_topk_reduce(scored: DataFrame, k: int) -> DataFrame:
    """Per-partition top-k pre-reduction over a scored relation
    (query_id, neighbor_id, cos): every partition emits at most k rows
    per query_id, selected by the SAME total order the final rank uses
    (cos desc, neighbor_id asc). The union of per-partition top-k
    contains the global top-k, so a downstream per-query window over
    the reduced rows (<= k * n_partitions per query) is exact — and no
    task ever sorts the full corpus, which a bare
    Window.partitionBy(query_id) would do with one task per query.

    Shape: mapInPandas over the EXISTING partitioning — zero extra
    shuffle; the cosine values are computed JVM-side upstream and only
    SELECTED here (Arrow batches), so values are bit-identical. Memory
    is bounded by one running top-k frame per partition."""
    from collections.abc import Iterator

    schema = scored.schema

    def reduce_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: pd.DataFrame | None = None
        for pdf in batches:
            merged = pdf if best is None else pd.concat([best, pdf], ignore_index=True)
            best = (
                merged.sort_values(
                    ["query_id", "cos", "neighbor_id"],
                    ascending=[True, False, True],
                    kind="mergesort",
                )
                .groupby("query_id", sort=False)
                .head(k)
            )
        yield best if best is not None else pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in schema.fields}
        )

    return scored.mapInPandas(reduce_topk, schema)


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[str] | list[int],
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id. Output:
    (query_id, rank, neighbor_id, cos). Excludes self-matches.

    Scale shape: the query side is broadcast so the corpus scan is
    shuffle-free; the rank reduction is DISTRIBUTED — per-partition
    top-k first (local_topk_reduce), then a per-query window over the
    <= k * n_partitions survivors. Without the pre-reduction the final
    window funnels the entire scored corpus into n_queries tasks."""
    e = widen_narrow_scan(embeddings).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine_expr(F.col("qv"), F.col("v")), 4).alias("cos"),
        )
    )
    reduced = local_topk_reduce(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    seed: int = 42,
    centroids: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus, then
    search only the ``n_probe`` clusters whose centroids are nearest
    each query.

    Quantizer: by default KMeans (pyspark.ml, seeded —
    deterministic). Pass ``centroids`` (list of dim-length float
    lists) to use a PRECOMPUTED codebook instead: the production
    pattern (codebooks are trained offline and shipped to the job),
    and what lets the DuckDB oracle twin replay the identical
    assignment for the checked query (__spark_entry__:ann_ivf_topk).
    A row's cluster is then the head of ``nearest_centroids`` in the
    scan projection (no ML stage).

    The codebook enters the plan ONCE, as one array<array<double>>
    literal that both the row assignment and the query probes fold
    over (``nearest_centroids``), so building the query costs a fixed
    number of py4j calls whatever n_clusters × dim is. Corpus rows
    carry their cluster id from a single projection pass, so the probe
    is an equi-join on cluster id — the classic IVF list-scan,
    shuffle-free on the corpus side. Same output schema as
    brute_force_topk."""
    e = widen_narrow_scan(embeddings).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = e.withColumn("features", array_to_vector(F.col("v")))
        model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(feats)
        assigned = model.transform(feats).select(
            "vec_id", "v", F.col("prediction").alias("cluster")
        )
        centers = [c.tolist() for c in model.clusterCenters()]
    else:
        centers = centroids
        assigned = e.select(
            "vec_id", "v",
            nearest_centroids("v", centers)[0]["cluster"].alias("cluster"),
        )

    q = assigned.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # nearest n_probe centroids per query: tiny cross product, JVM-side
    probes = q.select(
        "query_id", "qv",
        F.explode(F.slice(nearest_centroids("qv", centers), 1, n_probe)).alias("p"),
    ).select("query_id", "qv", F.col("p.cluster").alias("qc"))

    cand = assigned.join(
        F.broadcast(probes),
        (F.col("cluster") == F.col("qc")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr(F.col("qv"), F.col("v")), 4).alias("cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    # candidate sets are list-bounded, but still pre-reduce so the
    # final per-query window never funnels a hot probe list through
    # one task (same pattern as brute_force_topk)
    reduced = local_topk_reduce(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def sign_bucket_col(v: str, planes: list[list[float]]) -> Column:
    """LSH bucket id of the array<double> column named ``v``: sign bits
    of dot products with fixed random hyperplanes, packed into an int
    as the sum of if(dot_i > 0, 1 << i, 0). One SQL expression over ONE
    literal of the planes (see _double_matrix); each dot is the same
    left-to-right fold as dot_expr, so a borderline sign agrees with the
    DuckDB twins bit-for-bit (unrolling rejected: see dot_expr)."""
    return F.expr(
        f"aggregate(transform({_double_matrix(planes)}, (p, i) -> "
        f"if(aggregate(zip_with({v}, p, (x, y) -> x * y), 0D, (a, b) -> a + b) > 0, "
        "shiftleft(1, i), 0)), 0, (a, b) -> a + b)"
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH: ``n_tables``
    independent hyperplane sets; a corpus vector is a candidate if it
    shares the query's bucket in ANY table (plus 1-bit-flip multiprobe
    buckets). Classic recall/cost trade: per-table match prob for
    angle t is (1 - t/pi)^n_planes; the table union drives recall ->
    1 for genuinely-similar pairs while keeping candidate counts
    ~ n_tables * n/2^n_planes.

    Scale shape: bucket ids are computed in the scan projection (pure
    expressions), candidates form via an equi-join on (table, bucket)
    with the small query side broadcast — the corpus is never
    shuffled. Same output schema as brute_force_topk."""
    e = widen_narrow_scan(embeddings).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=42 + 1000 * t)
        buckets.append(
            F.struct(F.lit(t).alias("tbl"), sign_bucket_col("v", planes).alias("b"))
        )
    eb = e.select("vec_id", "v", F.explode(F.array(*buckets)).alias("tb")).select(
        "vec_id", "v", F.col("tb.tbl").alias("tbl"), F.col("tb.b").alias("b")
    )
    q = eb.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("tbl").alias("qtbl"), F.col("b").alias("qb"),
    )
    if multiprobe:
        probes = F.array(
            F.col("qb"), *[F.col("qb").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
        )
        q = q.select("query_id", "qv", "qtbl", F.explode(probes).alias("qb"))
    cand = eb.join(
        F.broadcast(q),
        (F.col("tbl") == F.col("qtbl")) & (F.col("b") == F.col("qb")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_expr(F.col("qv"), F.col("v")), 4).alias("cos"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    # bucket-bounded candidates, but a hot bucket union can still be
    # large — pre-reduce before the per-query window (see
    # brute_force_topk)
    reduced = local_topk_reduce(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )
