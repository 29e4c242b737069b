"""U6: the image payload pipeline over the ``images`` table
(BASELINE.json:15 input_hint — image_id, bytes, w, h, fmt, caption,
phash).

All stages are Arrow-batched pandas UDFs over ``bytes:binary`` —
the Spark-side plumbing (schema, batch shape, partitioning) is real;
the lossy-decode kernel is the deterministic FJPG stub where PIL is
absent (content/imagecodec.py docstring).

Scale notes: decode is embarrassingly parallel — no shuffle; Arrow
batch size bounds executor memory (bytes column dominates, so
``spark.sql.execution.arrow.maxRecordsPerBatch`` is sized for payload
MBs, not rows). Feature outputs (phash, dims) are tiny relative to
payloads, so the validate stage projects bytes away immediately after
decode — the scan prunes ``bytes`` entirely for metadata-only queries.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..content.imagecodec import decode_image, phash64, psnr
from ..datagen import gen_images
from ..sources.state import TABLES

IMAGES_SCHEMA = TABLES["images"]


def images_df(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(gen_images(n, seed), IMAGES_SCHEMA)


def decode_validate_stage(images: DataFrame) -> DataFrame:
    """Decode + per-row fidelity features: recomputed (w, h, phash),
    hamming distance to the stored phash, and PSNR of a lossy
    re-encode roundtrip (inf -> null for lossless). Projects the
    payload away after decode."""
    out_schema = T.StructType(
        [
            T.StructField("image_id", T.StringType()),
            T.StructField("fmt", T.StringType()),
            T.StructField("dec_w", T.IntegerType()),
            T.StructField("dec_h", T.IntegerType()),
            T.StructField("dec_phash", T.LongType()),
            T.StructField("phash_hamming", T.IntegerType()),
            T.StructField("roundtrip_psnr", T.DoubleType()),
            T.StructField("decode_ok", T.BooleanType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..content.imagecodec import decode_fake_jpeg, encode_fake_jpeg

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = decode_image(bytes(r.bytes), r.fmt)
                    ph = phash64(px)
                    ham = bin((ph ^ r.phash) & ((1 << 64) - 1)).count("1")
                    if r.fmt == "jpeg":
                        rt = psnr(px, decode_fake_jpeg(encode_fake_jpeg(px)))
                    else:
                        rt = None
                    rows.append(
                        (r.image_id, r.fmt, px.shape[1], px.shape[0], ph, ham,
                         None if rt is None or rt == float("inf") else float(rt), True)
                    )
                except Exception:
                    rows.append((r.image_id, r.fmt, None, None, None, None, None, False))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return images.mapInPandas(run, out_schema)


def phash_near_dups(
    images: DataFrame, max_hamming: int = 6, chunks: int = 8
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the image-payload analog of dedup.simhash_near_dups, for dedup of
    a crawled image+caption corpus before training.

    Pigeonhole blocking: the 64-bit phash splits into ``chunks`` equal
    slices; a pair within hamming <= chunks-1 differs in at most
    chunks-1 slices, so at least one slice matches exactly — candidates
    form via an equi-join on (chunk, slice), never an all-pairs
    comparison. Exact hamming (bit_count of xor, JVM-side) then filters
    to ``max_hamming``. Output: (img_a, img_b, hamming), img_a < img_b.

    Scale: one explode (xchunks), one equi-join keyed (chunk, slice);
    pair volume is quadratic only within a slice bucket. phash is a
    metadata column — the payload bytes are never scanned."""
    if max_hamming >= chunks:  # not an assert: must survive python -O
        raise ValueError("pigeonhole guarantee needs max_hamming <= chunks-1")
    from ..partitioning import materialize_with_stats

    width = 64 // chunks
    # materialized (tiny: id + phash + chunk key per row) so the
    # self-join below sees real stats and the upstream phash
    # derivation runs once, not once per join side
    keyed = materialize_with_stats(scope="phash_keyed", df=images.select(
        "image_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("phash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("image_id", "phash", "ck.chunk", "ck.key"))
    l, r = keyed.alias("l"), keyed.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.image_id") < F.col("r.image_id")),
        )
        .select(
            F.col("l.image_id").alias("img_a"),
            F.col("r.image_id").alias("img_b"),
            F.bit_count(
                F.col("l.phash").bitwiseXOR(F.col("r.phash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: a hot slice bucket emits quadratic
        # candidates — dedup only the survivors, not the discards
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


_CAPTION_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("asset_url", T.StringType()),
            T.StructField("caption", T.StringType()),
            T.StructField("pos", T.IntegerType()),
        ]
    )
)


def extract_captions_kernel(html: str, page_url: str, target_domain: str) -> list[tuple[str, str]]:
    """(asset_url, alt) per <img> tag in DOCUMENT ORDER, same-domain
    (falsy target_domain -> the page's own netloc, mirroring the
    reference's fallback html_processor.py:24). Shared by the UDF and
    the oracle so caption equality tests bind the orchestration."""
    from ..content.extract import _parse

    if not html:
        return []
    try:
        soup = _parse(html)
    except Exception:
        return []
    return captions_from_soup(soup, page_url, target_domain)


def captions_from_soup(soup, page_url: str, target_domain: str) -> list[tuple[str, str]]:
    """extract_captions_kernel over an already-parsed page."""
    from urllib.parse import urljoin, urlparse

    out: list[tuple[str, str]] = []
    try:
        domain = target_domain or urlparse(page_url).netloc
        for img in soup.find_all("img", src=True):
            src = img["src"]
            if not src or src.startswith("data:"):
                continue
            abs_url = urljoin(page_url, src)
            if urlparse(abs_url).netloc == domain:
                out.append((abs_url, img.get("alt", "")))
    except Exception:
        pass
    return out


def extract_captions_stage(pages: DataFrame, target_domain: str) -> DataFrame:
    """Caption extraction (the graft's analog of U5's alt/figcaption
    output): per page, (img_url, alt text, document position) for
    same-domain images."""

    @F.pandas_udf(_CAPTION_TYPE)
    def captions_udf(urls: pd.Series, htmls: pd.Series) -> pd.Series:
        out = []
        for url, html in zip(urls, htmls):
            caps = [
                {"asset_url": a, "caption": c, "pos": i}
                for i, (a, c) in enumerate(extract_captions_kernel(html, url, target_domain))
            ]
            out.append(caps)
        return pd.Series(out)

    return (
        pages.withColumn("__caps", captions_udf(F.col("url"), F.col("html")))
        .select(F.col("url").alias("page_url"), F.explode("__caps").alias("c"))
        .select("page_url", F.col("c.asset_url"), F.col("c.caption"), F.col("c.pos"))
    )


def first_caption_per_asset(captions: DataFrame) -> DataFrame:
    """First document-order caption per (page, asset url)."""
    from pyspark.sql import Window

    w = Window.partitionBy("page_url", "asset_url").orderBy("pos")
    return (
        captions.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("page_url", "asset_url", "caption")
    )


def image_row(page_url: str, asset_url: str, data, caption: str | None) -> tuple | None:
    """One ``images`` row (IMAGES_SCHEMA order) for a fetched img
    asset, or None when the url has no image format, the fetch failed
    or the payload does not decode."""
    from ..content.paths import xxhash64_str
    from ..datagen import asset_image_format

    fmt = asset_image_format(asset_url)
    if fmt is None or data is None:
        return None
    try:
        px = decode_image(bytes(data), fmt)
    except Exception:
        return None
    return (
        str(xxhash64_str(f"{page_url}|{asset_url}")),
        bytes(data),
        px.shape[1],
        px.shape[0],
        fmt,
        caption if caption is not None else "",
        phash64(px),
    )


def images_from_assets(img_assets: DataFrame, captions: DataFrame) -> DataFrame:
    """The graft's payload corpus (BASELINE.json:15 input_hint):
    fetched img-asset bytes -> decoded metadata + caption ->
    (image_id, bytes, w, h, fmt, caption, phash). image_id =
    xxhash64(page_url|asset_url) — stable across runs/partitionings."""
    joined = img_assets.join(
        first_caption_per_asset(captions), ["page_url", "asset_url"], "left"
    )

    out_schema = IMAGES_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                row = image_row(r.page_url, r.asset_url, r.bytes, r.caption)
                if row is not None:
                    rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return joined.mapInPandas(run, out_schema)
