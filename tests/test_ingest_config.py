"""F2/F3 ingest filters (statuscode:200 + mimetype:text/html,
constants.py:38-39) and SRC6 config validation parity
(config_loader.py:7-77; reference tests/test_config_loader.py)."""

import json

import pytest
from pyspark.sql import functions as F

from web_archive_downloader_spark.config import EngineConfig, load_config_json
from web_archive_downloader_spark.sources.cdx import (
    CDX_SCHEMA,
    cdx_dataframe,
    cdx_server_filter,
)


# ---------------------------------------------------------- F2/F3

def _mixed_records():
    """CDX feed WITH statuscode column: only 200+text/html rows should
    survive ingest — exactly what the reference's server-side filter
    returns (it never sees the rest)."""
    rows = []
    for i in range(40):
        url = f"https://example.com/page{i}"
        ts = f"202001{i % 28 + 1:02d}000000"
        if i % 5 == 3:
            rows.append([url, ts, "text/html", 404])
        elif i % 5 == 4:
            rows.append([url, ts, "application/pdf", 200])
        else:
            rows.append([url, ts, "text/html", 200])
    return rows


def test_server_filter_matches_reference_view(spark):
    raw = _mixed_records()
    filtered = cdx_server_filter(cdx_dataframe(spark, raw))
    got = sorted(r.url for r in filtered.collect())
    exp = sorted(r[0] for r in raw if r[3] == 200 and r[2] == "text/html")
    assert got == exp
    # relative seq order preserved (sparse is fine; ordering semantics
    # only need monotonicity)
    seqs = [r.seq for r in filtered.orderBy("seq").collect()]
    assert seqs == sorted(seqs)


def test_crawl_ignores_filtered_rows(spark, tmp_path):
    """Seeding from a feed with non-200/non-html rows must produce the
    same frontier as the reference (which never receives them)."""
    from web_archive_downloader_spark.plans.crawl import seed_frontier_from_cdx

    raw = _mixed_records()
    full = seed_frontier_from_cdx(cdx_dataframe(spark, raw))
    prefiltered = seed_frontier_from_cdx(
        cdx_dataframe(spark, [r[:3] for r in raw if r[3] == 200 and r[2] == "text/html"])
    )
    got = sorted((r.url, r.ts) for r in full.collect())
    exp = sorted((r.url, r.ts) for r in prefiltered.collect())
    assert got == exp


def test_filters_push_into_parquet_scan(spark, tmp_path):
    """On a columnar CDX dump both predicates reach the scan."""
    import io
    from contextlib import redirect_stdout

    path = str(tmp_path / "cdx")
    cdx_dataframe(spark, _mixed_records()).write.parquet(path)
    q = cdx_server_filter(spark.read.schema(CDX_SCHEMA).parquet(path))
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "status" in pushed and "mimetype" in pushed


# ------------------------------------------------------------ SRC6

VALID = {
    "target_domain": "example.com",
    "output_dir": "test_output",
    "content_selectors": ["main", ".content"],
    "request_delay_seconds": 1,
    "max_retries": 5,
    "user_agent": "TestAgent/1.0",
    "checkpoint_file": "test_checkpoint.json",
    "log_file": "test_scraping.log",
    "cdx_api_url": "http://test-cdx-server.com/cdx",
}


def _write(tmp_path, data, name="config.json", text=None):
    p = tmp_path / name
    p.write_text(text if text is not None else json.dumps(data))
    return str(p)


def test_load_config_valid(tmp_path):
    data = dict(VALID, download_images=True, save_original_html=True,
                rewrite_asset_links=False)
    cfg = load_config_json(_write(tmp_path, data))
    assert isinstance(cfg, EngineConfig)
    assert cfg.target_domain == "example.com"
    assert cfg.content_selectors == ("main", ".content")
    assert cfg.request_delay_seconds == 1.0
    assert cfg.max_retries == 5
    assert cfg.download_images and cfg.save_original_html
    assert not cfg.rewrite_asset_links


@pytest.mark.parametrize("missing", ["target_domain", "cdx_api_url", "checkpoint_file"])
def test_load_config_missing_required_key(tmp_path, missing):
    data = {k: v for k, v in VALID.items() if k != missing}
    with pytest.raises(ValueError, match=missing):
        load_config_json(_write(tmp_path, data))


def test_load_config_missing_keys_all_named(tmp_path):
    data = {k: v for k, v in VALID.items() if k not in ("log_file", "user_agent")}
    with pytest.raises(ValueError) as ei:
        load_config_json(_write(tmp_path, data))
    assert "log_file" in str(ei.value) and "user_agent" in str(ei.value)


def test_load_config_invalid_json(tmp_path):
    with pytest.raises(ValueError, match="decoding JSON"):
        load_config_json(_write(tmp_path, None, text="{not json"))


def test_load_config_defaults(tmp_path):
    cfg = load_config_json(_write(tmp_path, VALID))
    # reference loader defaults (config_loader.py:40-45)
    assert not cfg.download_js and not cfg.download_css and not cfg.download_images
    assert not cfg.save_original_html
    assert cfg.rewrite_asset_links


@pytest.mark.parametrize(
    "key,value",
    [
        ("request_delay_seconds", -1),
        ("request_delay_seconds", "fast"),
        ("request_delay_seconds", True),
        ("max_retries", -2),
        ("max_retries", 2.5),
        ("max_retries", "many"),
    ],
)
def test_load_config_invalid_value_type(tmp_path, key, value):
    data = dict(VALID)
    data[key] = value
    with pytest.raises(ValueError, match=key):
        load_config_json(_write(tmp_path, data))


def test_load_config_bad_asset_structure_warns_not_raises(tmp_path, capsys):
    data = dict(VALID, asset_save_structure="central")
    cfg = load_config_json(_write(tmp_path, data))
    assert isinstance(cfg, EngineConfig)
    assert "asset_save_structure" in capsys.readouterr().err


def test_load_config_file_not_found():
    with pytest.raises(FileNotFoundError):
        load_config_json("/nonexistent/config.json")


def test_expand_depth_guard():
    """Seq-packing headroom guard: expansion past depth 2 would wrap
    int64 (plans/crawl.py:_expand_links packing)."""
    with pytest.raises(ValueError, match="max_depth"):
        EngineConfig(expand_links=True, max_depth=3)
    EngineConfig(expand_links=True, max_depth=2)  # fine


def test_cdx_nonnumeric_status_null_pads(spark):
    """Real Wayback feeds use '-' for revisit records' status — ingest
    must null-pad (the documented malformed-row contract), not crash."""
    raw = [
        ["https://example.com/a", "20200101000000", "text/html", 200],
        ["https://example.com/b", "20200102000000", "text/html", "-"],
        ["https://example.com/c", "20200103000000", "text/html", None],
    ]
    df = cdx_dataframe(spark, raw)
    got = {r.url: r.status for r in df.collect()}
    assert got["https://example.com/b"] is None
    assert got["https://example.com/a"] == 200


def test_strict_filter_drops_null_status_rows(spark):
    """F2/F3 null semantics: a mixed feed carrying nulls on genuinely
    non-200 rows leaks through prefiltered mode by design; strict mode
    (prefiltered_feed=False) drops every null-status/mimetype row."""
    raw = [
        ["https://example.com/ok", "20200101000000", "text/html", 200],
        ["https://example.com/sneaky", "20200102000000", None, None],  # a 500 whose feed lost the columns
        ["https://example.com/pdf", "20200103000000", "application/pdf", 200],
        ["https://example.com/revisit", "20200104000000", "text/html", "-"],
    ]
    df = cdx_dataframe(spark, raw)
    default = {r.url for r in cdx_server_filter(df).collect()}
    assert "https://example.com/sneaky" in default  # documented null-pass
    strict = cdx_server_filter(df, prefiltered_feed=False)
    assert [r.url for r in strict.collect()] == ["https://example.com/ok"]
