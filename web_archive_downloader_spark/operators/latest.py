"""A1/W1: latest-snapshot-per-URL with first-appearance crawl order.

The reference builds an insertion-ordered dict with strict-greater
timestamp updates (cdx_client.py:101,129-130): the VALUE is the max
timestamp (string compare, first occurrence wins exact ties) and the
dict ORDER — i.e. the crawl order (main.py:58) — is the first
appearance of each URL in CDX file order.

Spark mapping (SURVEY §2.3 A1): a single shuffle on ``url`` computes
both via window ranks; Catalyst does partial aggregation map-side for
the min(seq). At 10^10 rows this is one hash-partitioned exchange on
the dedup key — no global sort; the ordering column ``seq`` is only
materialized, consumers sort per-partition slices as needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import valid_ts_col


def latest_snapshot_per_url(cdx: DataFrame, url="url", ts="ts", seq="seq") -> DataFrame:
    """Input: valid CDX rows (url, ts, ..., seq) where ``seq`` is the
    0-based file order. Output: one row per url with columns
    (url, ts, seq) where ts = latest (ties -> earliest seq wins) and
    seq = first-appearance rank that defines crawl order."""
    w = Window.partitionBy(url).orderBy(F.desc(ts), F.asc(seq))
    return (
        cdx.withColumn("__rn", F.row_number().over(w))
        .withColumn("__first_seq", F.min(seq).over(Window.partitionBy(url)))
        .filter(F.col("__rn") == 1)
        .select(url, ts, F.col("__first_seq").alias(seq))
    )


def valid_cdx(cdx: DataFrame) -> DataFrame:
    """F4/F5 record validation (cdx_client.py:108-126): non-null,
    non-empty url/ts, ts is 14 digits. Pushed into the scan by
    Catalyst when reading parquet."""
    return cdx.filter(
        F.col("url").isNotNull()
        & (F.length("url") > 0)
        & F.col("ts").isNotNull()
        & valid_ts_col(F.col("ts"))
    )
