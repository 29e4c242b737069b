"""Engine configuration.

Mirrors the reference's validated flat-JSON config
(/root/reference/config_loader.py:7-77, config.json:1-24,
constants.py) as a frozen dataclass. In the distributed engine the
config rides along as a broadcast variable / plan-time literals —
conditional stages (download_js/css/img) prune at plan time via
literal folding (reference gates them imperatively, main.py:104-107).
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Defaults from /root/reference/constants.py
DEFAULT_OUTPUT_DIR = "output"
INDEX_FILENAME_BASE = "index"
UNTITLED_FILENAME = "untitled"
ASSET_FALLBACK_FILENAME_BASE = "asset"
ASSETS_DIR_NAME = "_assets"
JS_DIR_NAME = "js"
CSS_DIR_NAME = "css"
IMG_DIR_NAME = "img"
UNKNOWN_ASSET_DIR_NAME = "_unknown"
HOMEPAGE_TITLE = "Homepage"
FILENAME_MAX_LENGTH = 100
DEFAULT_ASSET_FILENAME = "downloaded_asset"
FILENAME_COLLISION_LIMIT = 100
DEFAULT_REQUEST_DELAY = 1.0
DEFAULT_MAX_RETRIES = 3

# Reference config.json:4-11 — selector search order is semantic
DEFAULT_CONTENT_SELECTORS = (
    "#content",
    "main",
    ".main-content",
    ".entry-content",
    "article",
    "body",
)


@dataclass(frozen=True)
class EngineConfig:
    """Validated engine config (reference config_loader.py:16-24 keys).

    ``request_delay_seconds`` is pinned to the *documented* semantics
    (reference README.md:66: inter-request delay per host) rather than
    the code's retry-backoff-base-only behavior
    (decorators.py:59-60,90) — see SURVEY.md §2.10. The oracle applies
    the same budget so crawl ordering matches.
    """

    target_domain: str = "example.com"
    content_selectors: tuple[str, ...] = DEFAULT_CONTENT_SELECTORS
    request_delay_seconds: float = 1.5
    max_retries: int = DEFAULT_MAX_RETRIES
    download_js: bool = False
    download_css: bool = True
    download_images: bool = True
    save_original_html: bool = True
    rewrite_asset_links: bool = True
    output_dir: str = DEFAULT_OUTPUT_DIR

    # Engine-only (no reference analog): epoch scheduling knobs.
    # Per-epoch per-host fetch budget = epoch_seconds / delay tokens.
    epoch_seconds: float = 30.0
    # Salting factor for skewed-host aggregations/top-k (SURVEY §4).
    host_salt_buckets: int = 8
    # Partition count for the url_seen hash partitioning (xxhash64).
    seen_partitions: int = 32
    # Re-materialize url_seen's deltas as bucketed generations (dirs
    # under the store root, listed by its manifest) every K epochs:
    # after the first bucketize the J1 anti-join is
    # storage-partitioned — the seen side never shuffles again. This is
    # the production posture at scale (Iceberg bucket(N, url) +
    # incremental rewrite_data_files). Default None = AUTO: bucketize
    # once the rows scheduled since the last bucketize pass
    # plans/crawl.py's AUTO_BUCKETIZE_MIN_ROWS — so a default-config
    # long crawl never degrades into an unbucketed O(seen) shuffle per
    # epoch, while small test crawls (which need rollback past the
    # merge point, foreclosed by snapshot-expiry semantics) never
    # trigger it. 0 = never, K>0 = strictly every K epochs. The state
    # tables compact by their manifest dir count alone
    # (AUTO_COMPACT_MAX_DIRS, same module).
    bucketize_seen_every_epochs: int | None = None
    # Robots gate (engine-only; the reference has none — SURVEY §2.10).
    # Off by default so reference-equality runs are unaffected; the
    # oracle applies the same rules when enabled.
    respect_robots: bool = False
    # Frontier link expansion (depth+1 from discovered links); the
    # reference crawls only the CDX list, so this is off for
    # equality runs.
    expand_links: bool = False
    max_depth: int = 2
    # Cap on <a href> links taken per page during expansion (canonical
    # sorted order, so the cap is deterministic).
    max_links_per_page: int = 64
    # Live pacing: when True the fetch stage sleeps each request to
    # max(its pace slot, partition's last same-host fire +
    # request_delay_seconds) via fetch_shim.politeness_pacer — the
    # production politeness mode. Off in the sandbox/oracle runs: the
    # shim has no live server and wall-clock sleeps would distort
    # byte-equality benchmarks. The wiring (slot + host threading into
    # the pacer) is identical either way and is what tests exercise.
    live_pacing: bool = False
    # Fetch-stage partitioning: False (default) scatters by url hash —
    # full parallelism, politeness enforced by the pace-slot calendar
    # (spacing guaranteed when tasks launch on schedule; a straggler
    # task can compress cross-partition same-host gaps by its
    # lateness). True co-locates each host's rows in one partition so
    # the pacer's per-host floor is a STRICT global guarantee — at the
    # cost of serializing single-domain crawls onto one task.
    fetch_colocate_hosts: bool = False
    # Collect (and rewrite) <img>/<source> srcset candidate URLs as
    # image assets. The reference left this as an explicit TODO
    # (html_processor.py:63,144), so it defaults OFF for
    # byte-equality runs; responsive-image corpora turn it on to
    # capture every resolution variant.
    include_srcset: bool = False
    # Canonicalize frontier URLs (lowercase scheme/host, strip default
    # ports, drop fragments, sort query params) BEFORE the seen-set /
    # latest-per-URL dedup, so equivalent spellings collapse to one
    # fetch and the frontier hash-partitions by canonical-URL hash.
    # OFF by default: the reference's seen set keys raw strings
    # (main.py:62-64) and byte-parity requires matching it. The oracle
    # applies the same kernel when enabled.
    canonicalize_urls: bool = False
    # CDX feed provenance (F2/F3 null semantics, sources/cdx.py):
    # True = feed was server-filtered upstream, null status/mimetype
    # rows pass; False = mixed feed, nulls drop (strict 200+text/html).
    prefiltered_feed: bool = True

    def __post_init__(self) -> None:
        if self.request_delay_seconds < 0:
            raise ValueError("request_delay_seconds must be non-negative")
        if self.max_retries < 0:
            raise ValueError("max_retries must be a non-negative integer")
        # The expansion seq packing (depth<<50 | parent_seq<<12 | pos,
        # plans/crawl.py:_expand_links) only has headroom for parents
        # at depth <= 1: a depth-2 parent's seq is already ~2^51, so a
        # further shift would wrap int64 and corrupt crawl ordering.
        if self.expand_links and self.max_depth > 2:
            raise ValueError(
                "expand_links supports max_depth <= 2 (seq packing headroom); "
                f"got max_depth={self.max_depth}"
            )

    @property
    def per_host_epoch_budget(self) -> int:
        """Token-bucket capacity per host per epoch (>=1)."""
        if self.request_delay_seconds <= 0:
            return 1_000_000
        return max(1, int(self.epoch_seconds / self.request_delay_seconds))

    @property
    def enabled_asset_kinds(self) -> tuple[str, ...]:
        kinds = []
        if self.download_js:
            kinds.append("js")
        if self.download_css:
            kinds.append("css")
        if self.download_images:
            kinds.append("img")
        return tuple(kinds)


# Keys the reference's loader requires (config_loader.py:17-25); the
# engine consumes the subset that affects plan semantics and carries
# the rest through validation for parity.
REQUIRED_CONFIG_KEYS = (
    "target_domain",
    "output_dir",
    "content_selectors",
    "request_delay_seconds",
    "max_retries",
    "user_agent",
    "checkpoint_file",
    "log_file",
    "cdx_api_url",
)

_DEFAULTS = {
    "download_js": False,
    "download_css": False,
    "download_images": False,
    "save_original_html": False,
    "rewrite_asset_links": True,
    "asset_save_structure": "per_page",
}


def load_config_json(config_path: str) -> EngineConfig:
    """SRC6: validated flat-JSON config load with reference-parity
    semantics (config_loader.py:7-77, tests/test_config_loader.py):

    - missing required keys -> ValueError naming every missing key;
    - malformed JSON -> ValueError wrapping the decode error;
    - missing file -> FileNotFoundError (propagated);
    - ``request_delay_seconds`` must be a non-negative number,
      ``max_retries`` a non-negative int (bool excluded);
    - unknown ``asset_save_structure`` -> warning + 'per_page'
      fallback (not an error);
    - optional flags default per the reference loader.
    """
    import json
    import sys

    with open(config_path) as f:  # FileNotFoundError propagates
        try:
            raw = json.load(f)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"Error decoding JSON from config file '{config_path}': {e}"
            ) from e

    missing = [k for k in REQUIRED_CONFIG_KEYS if k not in raw]
    if missing:
        raise ValueError(
            f"Config file '{config_path}' is missing required keys: {', '.join(missing)}"
        )

    merged = dict(_DEFAULTS)
    merged.update(raw)

    delay = merged["request_delay_seconds"]
    if isinstance(delay, bool) or not isinstance(delay, (int, float)) or delay < 0:
        raise ValueError("Config 'request_delay_seconds' must be a non-negative number.")
    retries = merged["max_retries"]
    if isinstance(retries, bool) or not isinstance(retries, int) or retries < 0:
        raise ValueError("Config 'max_retries' must be a non-negative integer.")

    if merged["asset_save_structure"] not in ("per_page",):
        print(
            f"Warning: Invalid asset_save_structure '{merged['asset_save_structure']}' "
            "in config. Defaulting to 'per_page'.",
            file=sys.stderr,
        )
        merged["asset_save_structure"] = "per_page"

    return EngineConfig(
        target_domain=merged["target_domain"],
        content_selectors=tuple(merged["content_selectors"]),
        request_delay_seconds=float(delay),
        max_retries=int(retries),
        download_js=bool(merged["download_js"]),
        download_css=bool(merged["download_css"]),
        download_images=bool(merged["download_images"]),
        save_original_html=bool(merged["save_original_html"]),
        rewrite_asset_links=bool(merged["rewrite_asset_links"]),
        output_dir=merged["output_dir"],
    )
