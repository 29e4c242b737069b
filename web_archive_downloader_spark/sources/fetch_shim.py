"""Vectorized fetch / extract stages (U1, U5, U7, SRC2-SRC5).

Each stage is an Arrow-batched ``mapInPandas`` / ``pandas_udf`` — the
only places Python runs, and always whole-batch (BASELINE.json:15 "no
per-row Python" at the Spark level; inside a batch the per-document
DOM work is inherently per-item, same as the reference's bs4 calls,
but amortized over Arrow transfer and free of Spark-row overhead).

Politeness pacing: scheduled rows carry ``pace_slot`` — an absolute
per-host time offset from the pace CALENDAR (operators/schedule.py:
pace_slot_col): request r to a host fires at epoch_start +
(r-1)*delay, so same-host requests are >= delay apart by construction
in ANY partition layout. fetch_stage executes each partition's rows
in slot order; in production each fetch first calls a
``politeness_pacer(epoch_start)`` that sleeps to its slot on the
executor's clock. In this sandbox the "content server" is the
deterministic shim in datagen.py (no live host to be polite to, and
real sleeps would distort oracle byte-equality runs), so the pacer is
exercised by unit tests with a fake clock while the slot assignment +
firing order are asserted on the real plan.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import EngineConfig
from ..content.extract import (
    extract_fields_from_soup,
    find_assets,
    find_assets_in_soup,
    html_to_markdown,
    links_from_soup,
    rewrite_asset_links,
    _parse,
)
from ..content.paths import page_dir
from ..datagen import (
    asset_bytes,
    memento_api_json,
    memento_content_fetch,
    wayback_fetch_sim,
)
from ..functions.scalar import route_of
from ..operators.images import IMAGES_SCHEMA, captions_from_soup, image_row


def politeness_pacer(epoch_start: float, delay_seconds: float = 0.0, now=None, sleep=None):
    """Production pace enforcement: returns wait(slot, host=None) which
    blocks until BOTH (a) ``epoch_start + slot`` on a monotonic clock
    and (b) the partition's last fire to ``host`` + ``delay_seconds``.
    The per-host floor (b) matters when a task runs LATE: slots alone
    would let a delayed rank-1 request fire right before an on-time
    rank-2 request — the floor re-spaces them to >= delay within the
    partition regardless of lateness. With fetch co-location
    (EngineConfig.fetch_colocate_hosts) all of a host's rows share one
    partition and the floor is a strict global guarantee; in scatter
    mode the calendar guarantees spacing when tasks launch on schedule
    (the normal case — a stage's tasks start together) and stragglers
    can compress cross-partition gaps by at most their lateness.
    Injectable clock for tests; defaults to time.monotonic/time.sleep."""
    import time as _time

    now = now or _time.monotonic
    sleep = sleep or _time.sleep
    last_fire: dict[str, float] = {}

    def wait(slot: float, host: str | None = None) -> None:
        target = epoch_start + slot
        if host is not None and host in last_fire:
            target = max(target, last_fire[host] + delay_seconds)
        remaining = target - now()
        if remaining > 0:
            sleep(remaining)
        if host is not None:
            last_fire[host] = now()

    return wait


def fetch_stage(scheduled: DataFrame, pacer=None) -> DataFrame:
    """SRC2/U7: one fetch attempt per scheduled frontier row.
    Input needs (url, attempt); output adds (outcome, html).

    If the input carries ``pace_slot``, the WHOLE partition is
    drained and sorted before any fetch fires, so execution follows
    the politeness calendar's firing order across Arrow-batch
    boundaries (mapInPandas splits partitions at ~10k rows; a
    per-batch sort would let a later batch's low-slot row fire out of
    calendar order under live pacing). Memory: the drained rows are
    the PRE-fetch frontier slice (url/host/slot — no html), bounded
    per epoch by the per-host budgets; fetched output is re-chunked
    so no Arrow batch carries the whole partition's payload bytes. A
    ``pacer`` factory (epoch-relative, e.g. politeness_pacer bound to
    epoch_start) is invoked per row before its fetch in live
    deployments."""
    out_schema = T.StructType(
        scheduled.schema.fields
        + [T.StructField("outcome", T.StringType()), T.StructField("html", T.StringType())]
    )
    paced = "pace_slot" in scheduled.columns

    def run_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
        outcomes, htmls = [], []
        for url, attempt in _paced_rows(pdf, pacer):
            o, h = wayback_fetch_sim(url, int(attempt))
            outcomes.append(o)
            htmls.append(h)
        pdf = pdf.copy()
        pdf["outcome"] = outcomes
        pdf["html"] = htmls
        return pdf

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _calendar_chunks(batches, paced):
            yield run_chunk(pdf)

    return scheduled.mapInPandas(fetch_batches, out_schema)


_OUT_CHUNK = 4096


def _calendar_chunks(batches: Iterator[pd.DataFrame], paced: bool) -> Iterator[pd.DataFrame]:
    """A fetch task's input in firing order: unpaced batches pass
    through; paced partitions are drained whole, sorted by
    (pace_slot, seq) and re-chunked (see fetch_stage)."""
    if not paced:
        yield from batches
        return
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    sort_cols = ["pace_slot"] + (["seq"] if "seq" in whole.columns else [])
    whole = whole.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    for start in range(0, len(whole), _OUT_CHUNK):
        yield whole.iloc[start : start + _OUT_CHUNK].reset_index(drop=True)


def _paced_rows(pdf: pd.DataFrame, pacer):
    """(url, attempt) per row, each released by ``pacer`` at its
    calendar slot when the chunk is paced."""
    paced = pacer is not None and "pace_slot" in pdf.columns
    hosts = pdf["host"] if "host" in pdf.columns else None
    for i, (url, attempt) in enumerate(zip(pdf["url"], pdf["attempt"])):
        if paced:
            pacer(
                float(pdf["pace_slot"].iloc[i]),
                hosts.iloc[i] if hosts is not None else None,
            )
        yield url, attempt


# SRC4/X9: the Memento API's nested response shape
# (memento_client.py:45-53) as a Spark schema for from_json.
MEMENTO_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("original_uri", T.StringType()),
        T.StructField(
            "mementos",
            T.StructType(
                [
                    T.StructField(
                        "closest",
                        T.StructType(
                            [
                                T.StructField("datetime", T.StringType()),
                                T.StructField("uri", T.ArrayType(T.StringType())),
                            ]
                        ),
                    )
                ]
            ),
        ),
    ]
)


def memento_lookup_stage(dead: DataFrame) -> DataFrame:
    """SRC4: Memento TimeTravel lookup. The HTTP call is the only
    Python step (mapInPandas shim attaching the raw response body);
    the response NAVIGATION is fully relational — ``from_json`` with
    the nested struct/array schema, ``mementos.closest.uri[0]``
    selection, and the web.archive.org loop-guard filter as Catalyst
    expressions (memento_client.py:45-61). Malformed / missing-key /
    absent bodies all surface as a null uri (from_json is null-safe),
    exactly like the reference's isinstance checks.

    Output adds (memento_uri nullable, lookup_result in
    'found'|'loop'|'none')."""
    raw_schema = T.StructType(
        dead.schema.fields + [T.StructField("memento_api_raw", T.StringType())]
    )

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["memento_api_raw"] = [memento_api_json(u) for u in pdf["url"]]
            yield pdf

    with_raw = dead.mapInPandas(lookup, raw_schema)
    parsed = with_raw.withColumn(
        "_m", F.from_json("memento_api_raw", MEMENTO_RESPONSE_SCHEMA)
    )
    uri0 = F.col("_m").getField("mementos").getField("closest").getField("uri").getItem(0)
    host = F.coalesce(F.parse_url(uri0, F.lit("HOST")), F.lit(""))
    is_loop = host.contains("web.archive.org")  # netloc substring check, :56
    return parsed.select(
        *[F.col(f.name) for f in dead.schema.fields],
        F.when(uri0.isNotNull() & ~is_loop, uri0).alias("memento_uri"),
        F.when(uri0.isNull(), F.lit("none"))
        .when(is_loop, F.lit("loop"))
        .otherwise(F.lit("found"))
        .alias("lookup_result"),
    )


def memento_stage(dead: DataFrame, config: EngineConfig) -> DataFrame:
    """SRC4/SRC5: memento fallback for wayback-dead rows — JSON
    lookup + navigation (memento_lookup_stage) then content fetch of
    the resolved URI with the reference's '<html' validity probe
    (memento_client.py:112-116). The reference performs the whole
    fallback inside one loop iteration (main.py:71-93); here it is
    two vectorized stages in one plan. Output adds
    (memento_result, memento_html)."""
    looked_up = memento_lookup_stage(dead)
    fetch_schema = T.StructType(
        looked_up.schema.fields + [T.StructField("_content", T.StringType())]
    )

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_content"] = [
                memento_content_fetch(u) if isinstance(u, str) else None
                for u in pdf["memento_uri"]
            ]
            yield pdf

    fetched = looked_up.mapInPandas(fetch, fetch_schema)
    html_ok = F.col("_content").isNotNull() & F.lower(F.col("_content")).contains("<html")
    return fetched.select(
        *[F.col(f.name) for f in dead.schema.fields],
        F.when(F.col("lookup_result") != "found", F.col("lookup_result"))
        .when(html_ok, F.lit("ok"))
        .otherwise(F.lit("non_html"))
        .alias("memento_result"),
        F.when(html_ok, F.col("_content")).alias("memento_html"),
    )


_ASSETS_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("kind", T.StringType()), T.StructField("asset_url", T.StringType())]
    )
)


def find_assets_stage(pages: DataFrame, config: EngineConfig) -> DataFrame:
    """U1 as a UDTF-shaped pandas UDF + explode: pages(url, html) ->
    asset rows (url, kind, asset_url, kind_rank, url_rank). Only
    enabled kinds (F10 plan-time pruning) and canonical sorted order
    within a kind (SURVEY A2)."""
    kinds = config.enabled_asset_kinds

    @F.pandas_udf(_ASSETS_TYPE)
    def assets_udf(urls: pd.Series, htmls: pd.Series) -> pd.Series:
        out = []
        for url, html in zip(urls, htmls):
            found = find_assets(html, url, config)
            row = []
            for kind in kinds:  # js, css, img stage order (main.py:104-107)
                for a in found.get(kind, []):
                    row.append({"kind": kind, "asset_url": a})
            out.append(row)
        return pd.Series(out)

    exploded = (
        pages.withColumn("__assets", assets_udf(F.col("url"), F.col("html")))
        .select("url", "ts", "seq", F.posexplode_outer("__assets").alias("pos", "a"))
        .filter(F.col("a").isNotNull())
        .select(
            F.col("url").alias("page_url"),
            "ts",
            "seq",
            F.col("a.kind").alias("kind"),
            F.col("a.asset_url").alias("asset_url"),
            F.col("pos").alias("asset_pos"),
        )
    )
    return exploded


def asset_fetch_stage(assets: DataFrame) -> DataFrame:
    """SRC3: fetch asset bytes (binary column). Adds (bytes, nbytes);
    failed fetches yield null bytes and are dropped by the sink filter
    (reference skips them, main.py:135-137)."""
    out_schema = T.StructType(
        assets.schema.fields
        + [T.StructField("bytes", T.BinaryType()), T.StructField("nbytes", T.IntegerType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, sizes = [], []
            for a in pdf["asset_url"]:
                b = asset_bytes(a)
                blobs.append(b)
                sizes.append(len(b) if b else None)
            pdf = pdf.copy()
            pdf["bytes"] = blobs
            pdf["nbytes"] = pd.array(sizes, dtype="Int32")
            yield pdf

    return assets.mapInPandas(run, out_schema)


def extract_stage(pages: DataFrame, config: EngineConfig) -> DataFrame:
    """U5 phase 1 (epoch-time): title + selected content area HTML.

    Link-rewrite + markdown conversion are deferred to the finalize
    pass (finalize_markdown_stage) because asset-relative paths depend
    on globally-assigned collision names (see operators/collisions.py
    docstring). Output adds (title, content_html)."""
    out_schema = T.StructType(
        pages.schema.fields
        + [
            T.StructField("title", T.StringType()),
            T.StructField("content_html", T.StringType()),
            T.StructField("md_ok", T.BooleanType()),
        ]
    )
    selectors = tuple(config.content_selectors)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fields = [_extract(html, url, selectors)[1:] for url, html in zip(pdf["url"], pdf["html"])]
            pdf = pdf.copy()
            pdf["title"] = [f[0] for f in fields]
            pdf["content_html"] = [f[1] for f in fields]
            pdf["md_ok"] = [f[2] for f in fields]
            yield pdf

    return pages.mapInPandas(run, out_schema)


def _extract(html: str | None, url: str, selectors) -> tuple:
    """(soup, title, content_html, md_ok) with extract_stage's failure
    semantics: no html or a parse error -> no soup and no fields; an
    error inside the extract -> the soup but no fields."""
    if not html:
        return None, None, None, False
    try:
        soup = _parse(html)
    except Exception:
        return None, None, None, False
    try:
        return (soup, *extract_fields_from_soup(soup, url, selectors))
    except Exception:
        return soup, None, None, False


def memento_navigate(raw: str | None) -> tuple[str | None, str]:
    """Memento TimeTravel navigation of one response body, as the page
    pass runs it: (memento_uri, lookup_result). A missing or malformed
    body, or one without ``mementos.closest.uri[0]``, is 'none'; a
    web.archive.org closest uri is 'loop' (memento_client.py:45-61)."""
    from urllib.parse import urlsplit

    try:
        doc = json.loads(raw) if raw else None
    except ValueError:
        doc = None
    mementos = doc.get("mementos") if isinstance(doc, dict) else None
    closest = mementos.get("closest") if isinstance(mementos, dict) else None
    uris = closest.get("uri") if isinstance(closest, dict) else None
    uri0 = uris[0] if isinstance(uris, list) and uris else None
    if not isinstance(uri0, str):
        return None, "none"
    if "web.archive.org" in urlsplit(uri0).netloc:
        return None, "loop"
    return uri0, "found"


_PAGE_ASSET = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("asset_url", T.StringType()),
        T.StructField("asset_pos", T.IntegerType()),
        T.StructField("nbytes", T.IntegerType()),
        # asset_fetch_stage's sink filter (bytes not null); nbytes is
        # null for an empty payload too
        T.StructField("fetched", T.BooleanType()),
    ]
)
_PAGE_LINK = T.StructType(
    [T.StructField("url", T.StringType()), T.StructField("pos", T.IntegerType())]
)


_PAGE_FIELDS = [
    T.StructField("route", T.StringType()),
    T.StructField("via", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("content_html", T.StringType()),
    T.StructField("md_ok", T.BooleanType()),
    T.StructField("html", T.StringType()),
    T.StructField("memento_result", T.StringType()),
    T.StructField("assets", T.ArrayType(_PAGE_ASSET)),
    T.StructField("images", T.ArrayType(IMAGES_SCHEMA)),
    T.StructField("links", T.ArrayType(_PAGE_LINK)),
]


def process_page(url: str, attempt: int, config: EngineConfig, fetch=None) -> dict:
    """Everything an epoch does to one scheduled URL, with ONE parse of
    the fetched page: wayback fetch -> route -> (ok) extract + asset
    discovery + asset fetch + captions + image decode + links, or
    (dead) memento lookup + fetch + extract. Routing is
    functions/scalar.py:route_of; every other step reuses the kernel of
    the standalone stage it replaces (fetch_stage, extract_stage,
    find_assets_stage, asset_fetch_stage, extract_captions_stage,
    images_from_assets, memento_stage), so the values are the ones
    those stages produce.

    Returns the page-pass columns (see page_pass_stage). ``assets``
    lists every found asset of an enabled kind (``fetched`` False =
    failed fetch); ``html`` is kept only where the original-HTML sink
    saves it; ``links`` only when the config expands links. ``fetch``
    replaces the wayback fetch (default wayback_fetch_sim)."""
    selectors = tuple(config.content_selectors)
    row = dict(
        route=None, via=None, title=None, content_html=None, md_ok=False,
        html=None, memento_result=None, assets=[], images=[], links=[],
    )
    outcome, html = (fetch or wayback_fetch_sim)(url, int(attempt))
    row["route"] = route = route_of(outcome, int(attempt), config.max_retries)
    if route == "ok":
        soup, title, content, md_ok = _extract(html, url, selectors)
        row.update(via="wayback", title=title, content_html=content, md_ok=md_ok)
        if config.save_original_html and title and html:
            row["html"] = html
        if soup is None:
            return row
        found = find_assets_in_soup(soup, url, config)
        captions = None
        for kind in config.enabled_asset_kinds:  # js, css, img (main.py:104-107)
            for a in found.get(kind, []):
                data = asset_bytes(a)
                row["assets"].append({
                    "kind": kind, "asset_url": a, "asset_pos": len(row["assets"]),
                    "nbytes": len(data) if data else None, "fetched": data is not None,
                })
                if kind != "img" or data is None:
                    continue
                if captions is None:  # first document-order caption per asset
                    captions = {}
                    for au, cap in captions_from_soup(soup, url, config.target_domain):
                        captions.setdefault(au, cap)
                img = image_row(url, a, data, captions.get(a))
                if img is not None:
                    row["images"].append(img)
        if config.expand_links:
            row["links"] = [
                {"url": link, "pos": pos}
                for pos, link in enumerate(links_from_soup(soup, url, config.max_links_per_page))
            ]
    elif route == "dead_wayback":
        uri, lookup = memento_navigate(memento_api_json(url))
        content = memento_content_fetch(uri) if isinstance(uri, str) else None
        html_ok = content is not None and "<html" in content.lower()
        result = lookup if lookup != "found" else ("ok" if html_ok else "non_html")
        row["memento_result"] = result
        if result == "ok":
            _, title, content_html, md_ok = _extract(content, url, selectors)
            row.update(via="memento", title=title, content_html=content_html, md_ok=md_ok)
    return row


def page_pass_stage(scheduled: DataFrame, config: EngineConfig, pacer=None) -> DataFrame:
    """The fused epoch pass: one ``mapInPandas`` over the schedule
    that runs process_page per row, so each page crosses the
    Arrow/Python boundary once and is parsed once. Output: the input
    columns plus route, via, title, content_html, md_ok, html,
    memento_result and the array columns assets / images / links —
    one row per scheduled URL. Rows fire in pace-calendar order with
    the optional ``pacer`` exactly as in fetch_stage."""
    out_schema = T.StructType(scheduled.schema.fields + _PAGE_FIELDS)
    names = [f.name for f in _PAGE_FIELDS]
    paced = "pace_slot" in scheduled.columns
    # bound here so the task closure ships the driver's fetch function
    # (a patched content server in tests) rather than re-importing it
    fetch = wayback_fetch_sim

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _calendar_chunks(batches, paced):
            rows = [process_page(url, attempt, config, fetch) for url, attempt in _paced_rows(pdf, pacer)]
            pdf = pdf.copy()
            for name in names:
                pdf[name] = [r[name] for r in rows]
            yield pdf

    return scheduled.mapInPandas(run, out_schema)


def finalize_markdown_stage(docs_with_assets: DataFrame, config: EngineConfig) -> DataFrame:
    """U5 phase 2 (finalize): rewrite asset links to the assigned
    local names (J2 join result passed as ``saved_assets`` json) and
    convert to markdown. Input: (url, content_html, saved_assets);
    output adds ``markdown`` (null => extract_fail)."""
    out_schema = T.StructType(
        docs_with_assets.schema.fields + [T.StructField("markdown", T.StringType())]
    )
    rewrite = config.rewrite_asset_links
    include_srcset = config.include_srcset
    output_dir = config.output_dir

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mds = []
            for url, content_html, saved_json in zip(
                pdf["url"], pdf["content_html"], pdf["saved_assets"]
            ):
                if not content_html:
                    mds.append(None)
                    continue
                try:
                    soup = _parse(content_html)
                    saved = json.loads(saved_json) if saved_json else {}
                    if rewrite and saved:
                        save_dir = page_dir(url, output_dir)
                        soup = rewrite_asset_links(
                            soup, url, save_dir, saved,
                            include_srcset=include_srcset,
                        )
                    mds.append(html_to_markdown(str(soup)))
                except Exception:
                    mds.append(None)
            pdf = pdf.copy()
            pdf["markdown"] = mds
            yield pdf

    return docs_with_assets.mapInPandas(run, out_schema)
