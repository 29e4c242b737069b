"""Filename / path derivation kernels.

Pure string functions (no filesystem) reproducing the observable
semantics of the reference's file_handler.py. In the engine, file
paths are *columns* of the ``docs``/``assets`` tables; the collision
``-N`` suffix becomes a deterministic window rank (operators/
collisions.py) instead of an ``os.path.exists`` probe loop.

Reference citations:
- sanitize_filename: /root/reference/file_handler.py:43-58
- directory derivation: /root/reference/file_handler.py:62-102
- markdown filename + collision: /root/reference/file_handler.py:105-137
- markdown header bytes (literal ``\\n`` quirk):
  /root/reference/file_handler.py:142-144 — the source writes
  ``f"# {title}\\n\\n"`` with escaped backslashes, so the file
  contains the two characters backslash+n, not newlines. Must-match.
- asset filename: /root/reference/file_handler.py:238-263
"""

from __future__ import annotations

import posixpath
import re
from datetime import datetime
from urllib.parse import unquote, urlparse

from ..config import (
    ASSET_FALLBACK_FILENAME_BASE,
    DEFAULT_ASSET_FILENAME,
    FILENAME_MAX_LENGTH,
    INDEX_FILENAME_BASE,
    UNTITLED_FILENAME,
)

_INVALID_CHARS = re.compile(r"[\\/*?:\'\"<>|]")


def sanitize_filename(name: str) -> str:
    """Reference file_handler.py:43-58 — observable step order matters:
    remove invalid chars -> strip ' .' -> spaces->'_' -> truncate 100
    -> strip ' .' again -> empty fallback 'untitled'."""
    name = _INVALID_CHARS.sub("", name)
    name = name.strip(" .")
    name = name.replace(" ", "_")
    name = name[:FILENAME_MAX_LENGTH]
    name = name.strip(" .")
    if not name:
        name = UNTITLED_FILENAME
    return name


def page_dir_parts(original_url: str) -> list[str]:
    """Directory components for a page (file_handler.py:62-96).

    If the URL ends with '/' (or path is empty) every segment is a
    directory; otherwise the last segment is the page name and is
    excluded. Segments are unquoted, sanitized, and empties dropped.
    """
    parsed = urlparse(original_url)
    full_path = unquote(parsed.path).strip("/")
    segments = full_path.split("/") if full_path else []
    if original_url.endswith("/") or not full_path:
        dir_parts = segments
    else:
        dir_parts = segments[:-1]
    out = [sanitize_filename(p) for p in dir_parts if p]
    return [p for p in out if p]


def page_dir(original_url: str, output_dir: str = "output") -> str:
    """POSIX path of the directory a page's files land in."""
    return posixpath.join(output_dir, *page_dir_parts(original_url))


def is_root_path(original_url: str) -> bool:
    """file_handler.py:113,120-121 — root path gets 'index' base name."""
    parsed = urlparse(original_url)
    parts = [p for p in unquote(parsed.path).strip("/").split("/") if p]
    return not parts


def markdown_base_filename(title: str, original_url: str) -> str:
    """file_handler.py:119-123."""
    if is_root_path(original_url):
        return INDEX_FILENAME_BASE
    return sanitize_filename(title)


def format_archived_ts(ts14: str) -> str:
    """file_handler.py:144 — yyyyMMddHHmmss -> 'YYYY-MM-DD HH:MM:SS'."""
    return datetime.strptime(ts14, "%Y%m%d%H%M%S").strftime("%Y-%m-%d %H:%M:%S")


def markdown_file_bytes(title: str, markdown_content: str, original_url: str, ts14: str) -> str:
    """Exact markdown file content incl. the literal-backslash-n header
    quirk (file_handler.py:142-145; evidence
    /root/reference/test_output/Original_success.md:1)."""
    header = (
        f"# {title}\\n\\n"
        f"_Source URL: {original_url}_\\n"
        f"_Archived Timestamp: {format_archived_ts(ts14)}_\\n\\n"
    )
    return header + markdown_content


def asset_type_dir(kind: str) -> str:
    """file_handler.py:217-226."""
    return {"js": "js", "css": "css", "img": "img"}.get(kind, "_unknown")


def asset_base_and_ext(asset_url: str) -> tuple[str, str]:
    """Filename derivation for assets (file_handler.py:238-248).

    Empty basename falls back to ``asset_{xxhash64(url)}.bin`` — the
    reference uses process-seeded ``hash()`` (nondeterministic across
    runs, file_handler.py:241); the spec canonicalizes to xxhash64
    (SURVEY.md §7 hard-parts #3). Returns (filename_base, ext) after
    sanitization, with the empty-name fallback applied.
    """
    parsed = urlparse(asset_url)
    raw = posixpath.basename(unquote(parsed.path))
    if not raw:
        raw = f"{ASSET_FALLBACK_FILENAME_BASE}_{xxhash64_str(asset_url)}.bin"
    base, ext = posixpath.splitext(raw)
    safe = sanitize_filename(base)
    if not safe or f"{safe}{ext}" == ext:
        return DEFAULT_ASSET_FILENAME, ""
    return safe, ext


# --- xxhash64, pure python (public algorithm, xxHash by Yann Collet) ---
# Needed driver/executor-side where the JVM F.xxhash64 is out of reach
# (oracle, pandas-UDF fallback names). Matches Spark's xxhash64(col)
# with seed 42 for string input (Spark hashes the UTF-8 bytes).

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxhash64_bytes(data: bytes, seed: int = 42) -> int:
    """xxHash64 over bytes; seed 42 matches Spark's xxhash64 SQL fn.

    Returns a *signed* 64-bit int (same convention as Spark).
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = (_rotl((v1 + int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _P2) & _M, 31) * _P1) & _M
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = ((h * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        k = (_rotl((int.from_bytes(data[i : i + 8], "little") * _P2) & _M, 31) * _P1) & _M
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = ((_rotl(h, 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_str(s: str, seed: int = 42) -> int:
    return xxhash64_bytes(s.encode("utf-8"), seed)


# --- opt-in crawl-frontier URL canonicalization -----------------------
# The at-scale frontier partitions by canonical-URL hash so trivially
# equivalent spellings of one resource (case in scheme/host, default
# ports, fragments, query order) collapse to ONE seen-set row and one
# fetch. OFF by default: the reference's seen set keys raw strings
# (main.py:62-64) and byte-parity requires matching it. The Catalyst
# twin is functions/scalar.py:canonical_url_col — the two must stay in
# LOCKSTEP (same regex, same steps, same edge cases).

import re as _re

_URL_CANON_RE = _re.compile(
    r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
)


def canonical_url(url: str) -> str:
    """Canonicalize one URL: lowercase scheme and authority, strip the
    scheme's default port (:80 http / :443 https), empty path -> '/',
    drop the fragment, drop a bare trailing '?', sort query segments
    ('&'-split, binary order — matches Spark's array_sort). Inputs
    without a scheme://authority shape pass through unchanged.
    Percent-encoding and path dot-segments are left untouched
    (resolving them can change server behavior); the whole authority
    is lowercased (userinfo, which is case-sensitive per RFC 3986, is
    vanishingly rare in crawl frontiers — documented trade)."""
    m = _URL_CANON_RE.match(url or "")
    if not m:
        return url
    scheme = m.group(1).lower()
    auth = m.group(2).lower()
    if scheme == "http" and auth.endswith(":80"):
        auth = auth[:-3]
    elif scheme == "https" and auth.endswith(":443"):
        auth = auth[:-4]
    path = m.group(3) or "/"
    query = m.group(4)
    out = f"{scheme}://{auth}{path}"
    if query:
        out += "?" + "&".join(sorted(query.split("&")))
    return out
