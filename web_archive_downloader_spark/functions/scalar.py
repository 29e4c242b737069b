"""Scalar operators as pure Catalyst expression chains (SURVEY §2.8).

Everything here but ``route_of`` compiles to JVM expressions inside
whole-stage codegen — no Python UDFs. Each function mirrors a reference
scalar (citations inline). The path and filename chains are
property-tested against their pure-Python kernels in content/paths.py;
``route_of``, which the page pass calls per row, is tested against the
oracle's retry loop (oracle/simulator.py:_fetch_with_retries).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import FILENAME_MAX_LENGTH, UNTITLED_FILENAME

# Java regex for the invalid-filename class (file_handler.py:46).
_INVALID_CLASS = "[\\\\/*?:'\"<>|]"


def sanitize_filename_col(name: Column) -> Column:
    """X1 — sanitize_filename (file_handler.py:43-58). Step order is
    observable and must match: remove invalid chars -> strip ' .' ->
    spaces to '_' -> truncate 100 -> strip ' .' -> 'untitled' if empty."""
    c = F.regexp_replace(name, _INVALID_CLASS, "")
    c = F.regexp_replace(c, "^[ .]+", "")
    c = F.regexp_replace(c, "[ .]+$", "")
    c = F.translate(c, " ", "_")
    c = F.substring(c, 1, FILENAME_MAX_LENGTH)
    c = F.regexp_replace(c, "^[ .]+", "")
    c = F.regexp_replace(c, "[ .]+$", "")
    return F.when(F.length(c) == 0, F.lit(UNTITLED_FILENAME)).otherwise(c)


def url_path_col(url: Column) -> Column:
    """Path component of a URL (X4, parse_url)."""
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))


def url_host_col(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))


def format_archived_ts_col(ts14: Column) -> Column:
    """X8 (file_handler.py:144): yyyyMMddHHmmss -> yyyy-MM-dd HH:mm:ss."""
    return F.date_format(F.try_to_timestamp(ts14, F.lit("yyyyMMddHHmmss")), "yyyy-MM-dd HH:mm:ss")


def valid_ts_col(ts: Column) -> Column:
    """F5 (cdx_client.py:123): len==14 and all digits."""
    return ts.rlike("^[0-9]{14}$")


def page_dir_parts_col(url: Column) -> Column:
    """X5 (file_handler.py:62-96): array of sanitized directory parts.

    Uses try_url_decode for percent-unquoting (reference uses
    urllib.unquote; fixtures contain no '+', where the two differ).
    A path with an invalid %-escape falls back to its raw form —
    urllib.unquote instead leaves only the invalid escape raw; the
    divergence is confined to malformed-escape URLs (documented gap).
    """
    raw_path = url_path_col(url)
    path = F.coalesce(F.try_url_decode(raw_path), raw_path)
    full_path = F.regexp_replace(path, "^/+|/+$", "")
    segments = F.filter(F.split(full_path, "/"), lambda x: F.length(x) > 0)
    is_dir_url = url.endswith("/") | (F.length(full_path) == 0)
    dir_segs = F.when(is_dir_url, segments).otherwise(
        F.slice(segments, 1, F.greatest(F.size(segments) - 1, F.lit(0)))
    )
    sanitized = F.transform(dir_segs, lambda p: sanitize_filename_col(p))
    return F.filter(sanitized, lambda p: F.length(p) > 0)


def page_dir_col(url: Column, output_dir: str = "output") -> Column:
    parts = page_dir_parts_col(url)
    joined = F.array_join(parts, "/")
    return F.when(F.length(joined) == 0, F.lit(output_dir)).otherwise(
        F.concat(F.lit(output_dir + "/"), joined)
    )


def is_root_path_col(url: Column) -> Column:
    """file_handler.py:113,120: no non-empty path segments."""
    raw_path = url_path_col(url)
    path = F.coalesce(F.try_url_decode(raw_path), raw_path)
    full_path = F.regexp_replace(path, "^/+|/+$", "")
    return F.length(full_path) == 0


def markdown_base_filename_col(title: Column, url: Column) -> Column:
    """file_handler.py:119-123."""
    return F.when(is_root_path_col(url), F.lit("index")).otherwise(
        sanitize_filename_col(title)
    )


def markdown_header_col(title: Column, url: Column, ts14: Column) -> Column:
    """The literal-backslash-n header (file_handler.py:142-144).
    The file content is header || markdown."""
    bs_n = "\\n"  # two characters: backslash, n — the reference quirk
    return F.concat(
        F.lit("# "), title, F.lit(bs_n + bs_n),
        F.lit("_Source URL: "), url, F.lit("_" + bs_n),
        F.lit("_Archived Timestamp: "), format_archived_ts_col(ts14), F.lit("_" + bs_n + bs_n),
    )


def backoff_epochs_col(attempt: Column) -> Column:
    """X11 (decorators.py:90): wait = 2^(retries-1) * base, mapped to
    epoch gating — a row that failed attempt k becomes eligible again
    at epoch + 2^(k-1)."""
    return F.pow(F.lit(2.0), attempt.cast("double") - 1).cast("int")


def route_of(outcome: str, attempt: int, max_retries: int) -> str:
    """F12 routing of one fetch attempt (wayback_client.py:82-107;
    decorators.py:116-158): ok -> 'ok'; 404/empty/non-html -> immediate
    wayback-dead (memento fallback); 429/5xx/timeout -> 'retry' while
    attempts remain, else wayback-dead. Python, not a Column: the page
    pass routes inside its task so the memento fallback can run in the
    same pass."""
    if outcome == "ok":
        return "ok"
    if outcome in ("http_429", "http_500", "timeout") and attempt <= max_retries:
        return "retry"
    return "dead_wayback"


def asset_base_ext_cols(asset_url: Column) -> tuple[Column, Column]:
    """X6 — asset filename derivation (file_handler.py:238-248) as
    pure expressions: basename of the unquoted path; empty ->
    ``asset_{xxhash64(url)}.bin`` (reference uses process-seeded
    hash(); spec canonicalizes to xxhash64, SURVEY §7); splitext with
    os.path semantics (a leading dot alone is not an extension);
    sanitize; empty/ext-only -> 'downloaded_asset' with no ext.
    Returns (base, ext) columns."""
    raw_path = url_path_col(asset_url)
    path = F.coalesce(F.try_url_decode(raw_path), raw_path)
    raw_name = F.element_at(F.split(path, "/"), -1)
    fallback = F.concat(F.lit("asset_"), F.xxhash64(asset_url).cast("string"), F.lit(".bin"))
    name = F.when(F.length(raw_name) == 0, fallback).otherwise(raw_name)
    # splitext semantics: extension = last '.' group, valid only if
    # the part before it contains a non-dot char (so '.hidden' and
    # '..x' have no extension, 'a..b' -> ('a.', '.b'))
    cand = F.regexp_extract(name, "(\\.[^.]*)$", 1)
    prefix = F.substring(name, 1, F.length(name) - F.length(cand))
    ext = F.when(prefix.rlike("[^.]"), cand).otherwise(F.lit(""))
    base = F.substring(name, 1, F.length(name) - F.length(ext))
    safe = sanitize_filename_col(base)
    degenerate = (F.length(safe) == 0) | (F.concat(safe, ext) == ext)
    out_base = F.when(degenerate, F.lit("downloaded_asset")).otherwise(safe)
    out_ext = F.when(degenerate, F.lit("")).otherwise(ext)
    return out_base, out_ext


# --- opt-in URL canonicalization (Catalyst twin of
# content/paths.py:canonical_url — keep in LOCKSTEP) ------------------

_URL_CANON_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


def canonical_url_col(url: Column) -> Column:
    """Pure-codegen URL canonicalization: lowercase scheme+authority,
    strip default ports, empty path -> '/', drop fragment and bare
    '?', query segments '&'-split + array_sort (binary order ==
    Python sorted for valid UTF-8). Non-matching inputs pass through.
    No UDF: regexp_extract / array_sort / concat fold into
    whole-stage codegen inside the frontier scan projection."""
    scheme = F.lower(F.regexp_extract(url, _URL_CANON_RE, 1))
    auth = F.lower(F.regexp_extract(url, _URL_CANON_RE, 2))
    path = F.regexp_extract(url, _URL_CANON_RE, 3)
    query = F.regexp_extract(url, _URL_CANON_RE, 4)
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )
    return F.when(scheme == "", url).otherwise(canon)
