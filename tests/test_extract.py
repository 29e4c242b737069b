"""Extraction kernel unit tables, ported from the reference's
parametrized suites (/root/reference/tests/test_html_processor.py:
title lattice :18-27, selector search :45-57, conversion :84-91,
asset discovery :133-169, rewrite :213-321) against our kernels."""

import dataclasses

import pytest

from web_archive_downloader_spark.config import EngineConfig
from web_archive_downloader_spark.content.extract import (
    extract_and_convert_content,
    find_assets,
    html_to_markdown,
)

CFG = EngineConfig(target_domain="example.com")
URL = "https://example.com/blog/my-post"


# --- title lattice (test_html_processor.py:18-27) ---
@pytest.mark.parametrize(
    "html,expected",
    [
        ("<html><head><title>Test Title</title></head><body></body></html>", "Test Title"),
        ("<html><head><title>  Padded  </title></head><body></body></html>", "Padded"),
        ("<html><body><h1>H1 Title</h1></body></html>", "H1 Title"),
        ("<html><head><title></title></head><body><h1>H1 Fallback</h1></body></html>", "H1 Fallback"),
        ("<html><body><p>no title here</p></body></html>", "My post"),  # URL fallback
    ],
)
def test_title_lattice(html, expected):
    title, _ = extract_and_convert_content(html, URL, CFG)
    assert title == expected


def test_title_homepage_fallback():
    title, _ = extract_and_convert_content(
        "<html><body><p>x</p></body></html>", "https://example.com/", CFG
    )
    assert title == "Homepage"


# --- selector search order (test_html_processor.py:45-57; config.json:4-11) ---
def test_selector_priority_order():
    html = (
        "<html><body><main>main content</main>"
        '<div id="content">id content</div></body></html>'
    )
    _, md = extract_and_convert_content(html, URL, CFG)
    assert "id content" in md and "main content" not in md  # '#content' first


def test_selector_falls_through_to_body():
    html = "<html><body><p>body only</p></body></html>"
    _, md = extract_and_convert_content(html, URL, CFG)
    assert "body only" in md


def test_no_match_returns_title_only():
    cfg = dataclasses.replace(CFG, content_selectors=("#nope",))
    title, md = extract_and_convert_content(
        "<html><head><title>T</title></head><body><p>x</p></body></html>", URL, cfg
    )
    assert title == "T" and md is None  # html_processor.py:218-220


# --- conversion features (test_html_processor.py:84-91) ---
def test_markdown_features():
    md = html_to_markdown(
        "<h2>Head</h2><p>Text with <strong>bold</strong> and "
        '<a href="/l">link</a>.</p><ul><li>a</li><li>b</li></ul>'
    )
    assert "## Head" in md
    assert "**bold**" in md
    assert "[link](/l)" in md
    assert "  * a" in md and "  * b" in md


def test_markdown_empty_is_none():
    assert html_to_markdown("") is None
    assert html_to_markdown("<div>   </div>") is None


# --- asset discovery edges (test_html_processor.py:133-169) ---
def test_assets_relative_absolute_and_filters():
    html = (
        '<script src="/j/a.js"></script>'
        '<script src="https://example.com/j/b.js"></script>'
        '<script src="https://other.com/j/c.js"></script>'  # cross-domain: drop
        '<script src=""></script>'  # empty: drop
        '<link rel="stylesheet" href="s/c.css">'
        '<link rel="icon" href="/fav.ico">'  # wrong rel: drop
        '<img src="/i/p.png"><img src="data:image/gif;base64,AA==">'  # data URI: drop
    )
    found = find_assets(html, URL, CFG)
    assert found["js"] == [
        "https://example.com/j/a.js",
        "https://example.com/j/b.js",
    ]
    assert found["css"] == ["https://example.com/blog/s/c.css"]  # urljoin vs page
    assert found["img"] == ["https://example.com/i/p.png"]


def test_assets_malformed_html_returns_partial():
    html = '<script src="/a.js"></script><div><img src="/b.png"'
    found = find_assets(html, URL, CFG)
    assert found["js"] == ["https://example.com/a.js"]


def test_assets_empty_html():
    assert find_assets("", URL, CFG) == {"js": [], "css": [], "img": []}


# --- rewrite (test_html_processor.py:213-321) ---
def test_rewrite_hits_and_misses():
    html = (
        '<html><body><div id="content">'
        '<img src="/i/p.png"><img src="/i/q.png"></div></body></html>'
    )
    saved = {"https://example.com/i/p.png": "output/blog/_assets/img/p.png"}
    _, md = extract_and_convert_content(html, URL, CFG, saved)
    assert "![](_assets/img/p.png)" in md  # rewritten, relative to page dir
    assert "![](/i/q.png)" in md  # unsaved asset untouched


def test_srcset_collection_gated_and_filtered():
    """include_srcset=False (default, reference parity — the
    reference left srcset as a TODO) ignores srcset entirely; enabled,
    every same-domain non-data candidate joins the img set, deduped
    with img@src, cross-domain and data: candidates dropped."""
    from web_archive_downloader_spark.content.extract import parse_srcset

    html = (
        '<html><body>'
        '<img src="/a.png" srcset="/a-2x.png 2x, /a-3x.png 3x">'
        '<source srcset="https://example.com/b.webp 640w,'
        ' https://other.com/c.webp 1280w, data:image/gif;base64,x 2x">'
        '<img srcset=" , /only.png ">'
        '</body></html>'
    )
    url = "https://example.com/page"
    off = find_assets(html, url, EngineConfig(target_domain="example.com"))
    assert off["img"] == ["https://example.com/a.png"]

    on = find_assets(
        html, url, EngineConfig(target_domain="example.com", include_srcset=True)
    )
    assert on["img"] == [
        "https://example.com/a-2x.png",
        "https://example.com/a-3x.png",
        "https://example.com/a.png",
        "https://example.com/b.webp",
        "https://example.com/only.png",
    ]
    assert parse_srcset("/x.png 2x, /y.png") == ["/x.png", "/y.png"]
    assert parse_srcset(None) == []


def test_srcset_rewrite_preserves_descriptors():
    from web_archive_downloader_spark.content.extract import (
        _parse,
        rewrite_asset_links,
    )

    html = '<div><img src="/a.png" srcset="/a-2x.png 2x, /missing.png 3x"></div>'
    saved = {
        "https://example.com/a.png": "output/page/_assets/img/a.png",
        "https://example.com/a-2x.png": "output/page/_assets/img/a-2x.png",
    }
    soup = rewrite_asset_links(
        _parse(html), "https://example.com/page", "output/page", saved,
        include_srcset=True,
    )
    img = soup.find("img")
    assert img["src"] == "_assets/img/a.png"
    assert img["srcset"] == "_assets/img/a-2x.png 2x, /missing.png 3x"


def test_srcset_untouched_when_no_candidate_saved():
    """include_srcset off (or no srcset candidate in the saved map):
    the attribute must pass through BYTE-UNTOUCHED — no whitespace
    normalization of srcsets the engine is not rewriting."""
    from web_archive_downloader_spark.content.extract import (
        _parse,
        rewrite_asset_links,
    )

    raw = "/b.png   2x,\n/c.png 3x"
    html = f'<div><img src="/a.png" srcset="{raw}"></div>'
    saved = {"https://example.com/a.png": "output/page/_assets/img/a.png"}
    soup = rewrite_asset_links(
        _parse(html), "https://example.com/page", "output/page", saved
    )
    img = soup.find("img")
    assert img["src"] == "_assets/img/a.png"   # src rewrite still applies
    assert img["srcset"] == raw                # srcset bytes untouched

def test_srcset_rewrite_gated_on_flag_even_when_url_aliased():
    """ADVICE r4: a url present as BOTH img@src and a srcset candidate
    is in the saved map — with include_srcset OFF the srcset must
    still pass through byte-untouched (previously the map drove the
    rewrite and the aliased candidate was rewritten)."""
    from web_archive_downloader_spark.content.extract import (
        _parse,
        rewrite_asset_links,
    )

    raw = "/a.png 1x, /a-2x.png 2x"
    html = f'<div><img src="/a.png" srcset="{raw}"></div>'
    saved = {"https://example.com/a.png": "output/page/_assets/img/a.png"}
    soup = rewrite_asset_links(
        _parse(html), "https://example.com/page", "output/page", saved
    )
    img = soup.find("img")
    assert img["src"] == "_assets/img/a.png"
    assert img["srcset"] == raw  # feature off: bytes untouched
    # feature ON: the aliased candidate IS rewritten
    soup2 = rewrite_asset_links(
        _parse(html), "https://example.com/page", "output/page", saved,
        include_srcset=True,
    )
    assert soup2.find("img")["srcset"] == "_assets/img/a.png 1x, /a-2x.png 2x"


def test_srcset_whatwg_candidate_scan():
    """The tokenizer follows the WHATWG 'parse a srcset attribute'
    scan (replacing the comma-then-whitespace regex): whitespace
    BEFORE the comma splits, trailing commas strip, data-URI commas
    stay attached (with and without a descriptor), parenthesized
    descriptor commas don't split, and — per the same spec — a bare
    un-spaced comma inside a token is part of the url (what browsers
    parse)."""
    from web_archive_downloader_spark.content.extract import (
        _srcset_tokens,
        parse_srcset,
    )

    # whitespace before the comma (previously lost b.jpg)
    assert parse_srcset("a.jpg ,b.jpg") == ["a.jpg", "b.jpg"]
    assert parse_srcset("a.jpg , b.jpg") == ["a.jpg", "b.jpg"]
    # trailing commas on the url token terminate + strip
    assert parse_srcset("a.jpg,, b.jpg 2x,") == ["a.jpg", "b.jpg"]
    # data-URI comma mid-token stays attached — descriptor present
    assert parse_srcset("data:image/gif;base64,AAA 2x, b.jpg") == [
        "data:image/gif;base64,AAA", "b.jpg",
    ]
    # ...and when the data URI has NO descriptor, its trailing
    # separator comma still splits correctly
    assert parse_srcset("data:image/gif;base64,AAA, b.jpg") == [
        "data:image/gif;base64,AAA", "b.jpg",
    ]
    # spec paren state: a comma inside a (future-syntax) parenthesized
    # descriptor does not split candidates
    toks = _srcset_tokens("a.jpg calc(1x,2x) extra, b.jpg 2x")
    assert [u for _, u in toks] == ["a.jpg", "b.jpg"]
    assert toks[0][0] == ["a.jpg", "calc(1x,2x)", "extra"]
    # bare un-spaced comma INSIDE a token: one url, per spec
    assert parse_srcset("a.jpg,b.jpg") == ["a.jpg,b.jpg"]
    # descriptors preserved for the rewrite path
    assert _srcset_tokens("/x.png 2x, /y.png") == [
        (["/x.png", "2x"], "/x.png"),
        (["/y.png"], "/y.png"),
    ]
