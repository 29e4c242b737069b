"""Property-style tests: randomized (seeded) adversarial inputs,
batched through Spark once per property.

- Catalyst chains == pure-Python kernels on arbitrary strings/URLs
- the URL fallback title's shape on random URLs (no Spark)
- DOM parse/serialize stability (markdown invariance on reparse —
  the exact property the deferred-finalize design relies on)
- collision replay == oracle FakeFS replay on random name streams
- hypothesis is used for the pure-Python kernels (fast, no JVM hop)
"""

import random
import string
from urllib.parse import urlparse

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from web_archive_downloader_spark.content import htmldom
from web_archive_downloader_spark.content.extract import html_to_markdown, url_fallback_title
from web_archive_downloader_spark.content.paths import page_dir, sanitize_filename
from web_archive_downloader_spark.functions.scalar import page_dir_col, sanitize_filename_col

CHARS = string.ascii_letters + string.digits + " .\\/*?:'\"<>|-_~%#" + "éžüñ中"


def _rand_strings(n, maxlen, seed):
    rng = random.Random(seed)
    return ["".join(rng.choice(CHARS) for _ in range(rng.randint(0, maxlen))) for _ in range(n)]


def test_sanitize_random_batch(spark):
    cases = _rand_strings(300, 150, 7)
    df = spark.createDataFrame(pd.DataFrame({"s": cases}))
    got = [r.o for r in df.select(sanitize_filename_col(F.col("s")).alias("o")).collect()]
    assert got == [sanitize_filename(c) for c in cases]


def test_url_title_and_dir_random_batch(spark):
    rng = random.Random(11)
    urls = []
    seg_tokens = list(string.ascii_lowercase) + ["-", "_", ".", "%20", "%2F"]
    for _ in range(200):
        segs = [
            "".join(rng.choice(seg_tokens) for _ in range(rng.randint(1, 12)))
            for _ in range(rng.randint(0, 4))
        ]
        url = "https://ex.com/" + "/".join(segs) + ("/" if rng.random() < 0.3 else "")
        urls.append(url.replace("//", "/").replace("https:/", "https://"))
    for url in urls:
        # 'Homepage' exactly for an empty path; otherwise the last
        # segment with '-'/'_' as spaces and only its first char recased
        title = url_fallback_title(url)
        path = urlparse(url).path.strip("/")
        assert (title == "Homepage") == (not path), url
        assert "-" not in title and "_" not in title, url
        if path:
            last = path.split("/")[-1].replace("-", " ").replace("_", " ")
            assert title[0] == last[0].upper() and title[1:] == last[1:], url
    df = spark.createDataFrame(pd.DataFrame({"u": urls}))
    dirs = [r.d for r in df.select(page_dir_col(F.col("u")).alias("d")).collect()]
    assert dirs == [page_dir(u) for u in urls]


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=CHARS, max_size=120))
def test_sanitize_idempotent_and_safe(s):
    out = sanitize_filename(s)
    assert sanitize_filename(out) == out  # idempotent
    assert out == "untitled" or not any(c in out for c in "\\/*?:'\"<>| ")
    assert 0 < len(out) <= 100


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["p", "strong", "em", "li"]),
            st.text(alphabet=string.ascii_letters + " &<", max_size=30),
        ),
        max_size=8,
    )
)
def test_dom_reparse_markdown_invariance(items):
    """parse(serialize(tree)) must yield identical markdown — the
    invariance the epoch/finalize split depends on."""
    body = "".join(
        f"<{t}>{txt}</{t}>" if t != "li" else f"<ul><li>{txt}</li></ul>" for t, txt in items
    )
    html = f"<html><body><div id='content'>{body}</div></body></html>"
    root = htmldom.parse(html)
    content = root.select_one("#content")
    if content is None:
        return
    once = html_to_markdown(str(content))
    reparsed = htmldom.parse(str(content))
    twice = html_to_markdown(str(reparsed))
    assert once == twice


def test_asset_base_ext_random_batch(spark):
    """Catalyst X6 twin == posixpath-based kernel on adversarial asset
    URLs (dots, hidden names, empty basenames, %-escapes)."""
    from web_archive_downloader_spark.content.paths import asset_base_and_ext
    from web_archive_downloader_spark.functions.scalar import asset_base_ext_cols

    rng = random.Random(23)
    urls = [
        "https://ex.com/a/logo.png",
        "https://ex.com/a/archive.tar.gz",
        "https://ex.com/a/.hidden",
        "https://ex.com/a/..x",
        "https://ex.com/a/a..b",
        "https://ex.com/a/noext",
        "https://ex.com/a/",
        "https://ex.com/",
        "https://ex.com/a/sp%20ace.js",
        "https://ex.com/a/dots...",
    ]
    toks = list(string.ascii_lowercase) + [".", "-", "_", "%20"]
    for _ in range(150):
        name = "".join(rng.choice(toks) for _ in range(rng.randint(0, 10)))
        urls.append(f"https://ex.com/p/{name}")
    df = spark.createDataFrame(pd.DataFrame({"u": urls}))
    b, e = asset_base_ext_cols(F.col("u"))
    rows = df.select(b.alias("b"), e.alias("e")).collect()
    for url, r in zip(urls, rows):
        assert (r.b, r.e) == asset_base_and_ext(url), url


def test_collision_replay_random_vs_oracle_fs(spark):
    """Distributed name assignment == sequential FakeFS replay on a
    random stream of colliding names across styles."""
    from web_archive_downloader_spark.oracle.simulator import (
        _FakeFS,
        _save_with_collisions_asset,
        _save_with_collisions_md,
    )

    rng = random.Random(3)
    bases = ["post", "post-1", "logo", "logo-2", "a.b", "x"]
    rows = []
    for i in range(120):
        style = rng.choice(["page", "asset"])
        ext = ".md" if style == "page" else ".png"
        rows.append(("d", rng.choice(bases), ext, style, i))

    fs = _FakeFS()
    expected = []
    for dirn, base, ext, style, _seq in rows:
        if style == "page":
            expected.append(_save_with_collisions_md(fs, dirn, base, ext))
        else:
            expected.append(_save_with_collisions_asset(fs, dirn, base, ext))

    from web_archive_downloader_spark.operators.collisions import assign_collision_names

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["dir", "base", "ext", "style", "save_seq"])
    )
    got = {
        r.save_seq: r.filename for r in assign_collision_names(df).collect()
    }
    assert [got[i] for i in range(120)] == expected


# --- srcset WHATWG scan properties ---

_SRCSET_ALPHABET = "abc.jpg,()x2 \t\n\x0c/:%"


@given(st.text(alphabet=_SRCSET_ALPHABET, max_size=120))
@settings(max_examples=300, deadline=None)
def test_srcset_scan_total_and_lossless(value):
    """The candidate scan terminates on arbitrary input, never yields
    an empty candidate, every url is comma-trimmed and non-empty, and
    every non-separator character of the input is accounted for by
    some candidate part (nothing silently dropped mid-token)."""
    from web_archive_downloader_spark.content.extract import _srcset_tokens

    toks = _srcset_tokens(value)
    for parts, url in toks:
        assert parts, "empty candidate emitted"
        assert url == parts[0]
        assert url and not url.endswith(",")
        for p in parts:
            assert p and not p.isspace()
    # conservation: every non-whitespace non-comma character of the
    # input survives into some candidate part (nothing silently
    # dropped mid-token). Whitespace is compared out on BOTH sides —
    # an unclosed paren legitimately swallows whitespace into its
    # descriptor (the spec's paren state) — and commas only disappear
    # as separators/trailers.
    def core(s: str) -> str:
        for ch in " \t\n\x0c,":
            s = s.replace(ch, "")
        return s

    consumed = "".join("".join(parts) for parts, _ in toks)
    assert core(consumed) == core(value)


@given(st.lists(st.from_regex(r"[a-z]{1,5}\.jpg", fullmatch=True), min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_srcset_roundtrip_on_canonical_form(urls):
    """A canonically formatted srcset ('u1 1x, u2 2x, ...') parses to
    exactly its urls in order."""
    from web_archive_downloader_spark.content.extract import parse_srcset

    value = ", ".join(f"{u} {i+1}x" for i, u in enumerate(urls))
    assert parse_srcset(value) == urls
