"""CDX index ingest (SRC1).

The reference fetches JSON list-of-lists over HTTP with server-side
projection/filters (cdx_client.py:11-77). The engine's scan source is
a table (parquet/Iceberg at scale; an in-memory DataFrame for
fixtures): columns (url, ts, mimetype, seq) where seq is 0-based file
order — the key that defines first-appearance crawl order.

Header-row stripping (cdx_client.py:41-45) happens at ingest: the
header ['original','timestamp','mimetype'] parses as a row whose ts
is 'timestamp' — removed by the same F5 validity filter, but we also
drop it explicitly to keep seq numbering aligned with the reference's
post-strip list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CDX_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("mimetype", T.StringType()),
        T.StructField("status", T.IntegerType()),
        T.StructField("seq", T.LongType()),
    ]
)


def cdx_dataframe(spark: SparkSession, raw_records: list[list]) -> DataFrame:
    """Fixture ingest: raw list-of-lists (possibly with header row and
    malformed rows) -> typed CDX DataFrame with file-order seq.
    Malformed short rows become null-padded (dropped by valid_cdx).
    An optional 4th element is the HTTP statuscode (feeds that carry
    it); 3-element feeds get a null status (pre-filtered upstream).

    Revisit records (real Wayback feeds: status '-', mimetype
    'warc/revisit') null-pad their status; the MIMETYPE predicate in
    cdx_server_filter still drops them in either mode. A feed whose
    rows can carry null status AND null mimetype on non-captures is by
    definition mixed-provenance — ingest it with
    prefiltered_feed=False (nulls drop)."""
    if raw_records and raw_records[0] == ["original", "timestamp", "mimetype"]:
        raw_records = raw_records[1:]
    rows = []
    for i, rec in enumerate(raw_records):
        if not isinstance(rec, list):
            continue
        url = rec[0] if len(rec) > 0 else None
        ts = rec[1] if len(rec) > 1 else None
        mt = rec[2] if len(rec) > 2 else None
        # real Wayback CDX feeds use '-' for revisit records' status —
        # any non-numeric status null-pads (the documented malformed-row
        # contract) instead of crashing the ingest
        try:
            st = int(rec[3]) if len(rec) > 3 and rec[3] is not None else None
        except (TypeError, ValueError):
            st = None
        rows.append((url or None, ts or None, mt, st, i))
    return spark.createDataFrame(rows, CDX_SCHEMA)


def cdx_server_filter(cdx: DataFrame, prefiltered_feed: bool = True) -> DataFrame:
    """F2/F3: the reference's SERVER-side CDX filters
    (constants.py:38-39, cdx_client.py:26 — 'statuscode:200' +
    'mimetype:text/html') applied at ingest. On a parquet/Iceberg CDX
    dump both predicates push into the scan (asserted in
    tests/test_plan_shapes.py).

    ``prefiltered_feed`` controls null handling: with it on (default),
    null status/mimetype rows PASS — they represent feeds already
    filtered upstream, where the reference never receives non-matching
    rows at all. A MIXED feed that carries nulls on genuinely non-200
    rows would leak through that mode, so feeds of unknown provenance
    must set prefiltered_feed=False: nulls then DROP (strict
    status==200 AND mimetype=='text/html'). The surviving rows keep
    their original (sparse) seq — first-appearance ordering needs only
    relative order, and renumbering would be a global sort."""
    if prefiltered_feed:
        return cdx.filter(
            (F.col("status").isNull() | (F.col("status") == 200))
            & (F.col("mimetype").isNull() | (F.col("mimetype") == "text/html"))
        )
    return cdx.filter((F.col("status") == 200) & (F.col("mimetype") == "text/html"))

