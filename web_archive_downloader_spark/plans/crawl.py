"""The crawl "query": an epoch-driven BSP pipeline (SURVEY §3 E1).

Per epoch (all DataFrame ops; one driver loop builds the DAGs):

    frontier --eligible(E)--> anti-join(url_seen: Bloom prefilter +
    exact left-anti) --> robots gate --> per-host token-bucket top-k
    (salted) --> ONE page pass (mapInPandas, 1 attempt/row):
      fetch -> route (F12) ->
        ok    -> parse once: extract (title + content area), find
                 assets -> asset fetch, captions -> image decode,
                 links (expansion)
        retry -> attempt+1, eligible_epoch=E+2^(k-1) back to frontier
        dead  -> memento fallback (SRC4/5) -> ok -> extract
                                           -> fail -> dead letter
    --> persisted page frame, one row per scheduled url (assets /
        images / links as array<struct> columns, counters observed)
    --> ONE packed write of projections and explodes of that frame:
        docs_raw / html_raw / assets_raw / images / url_seen /
        processed / bloom / lineage / metrics + the frontier
        replacement, committed by one atomic manifest swap.

The seen-set probe runs before the robots gate, so a url already seen
(a checkpointed one included) leaves the frontier without a record,
exactly as the sequential oracle skips it. The page pass reuses the
standalone stages' kernels (sources/fetch_shim.py:process_page), so
its rows equal theirs. run_epoch calls none of the standalone stages;
they stay because perfbench's LayerProbes patch them and corpus_bench's
extract leg runs them.

Crawl ORDER determinism under parallelism: nothing order-sensitive is
derived from task/epoch completion order — every output keys off the
first-appearance ``seq``. Filename collision suffixes (the one truly
order-coupled output) are a deterministic function of the final
successful set ordered by (save_seq, save_pos), so they are materialized by
``finalize_outputs`` (idempotent, recomputable after resume) rather
than during epochs; see operators/collisions.py.

Politeness: scheduling grants <= floor(epoch_seconds/delay) fetches
per host per epoch (VOLUME cap, enforced relationally by the top-k);
the pace CALENDAR bounds the RATE — each granted request carries
pace_slot = (host_rank-1)*delay, an absolute offset from epoch start,
so same-host requests fire >= delay apart in any partition layout
when tasks launch on schedule (operators/schedule.py:pace_slot_col).
The fetch stage fires rows in slot order; live deployments sleep each
row to max(its slot, partition's last same-host fire + delay) via
fetch_shim.politeness_pacer, and fetch_colocate_hosts=True makes the
per-host floor a strict global guarantee. Lineage records per-epoch
per-host grants so the budget invariant is auditable.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..datagen import MEMENTO_NOW_TS
from ..functions.scalar import (
    backoff_epochs_col,
    markdown_base_filename_col,
    markdown_header_col,
    page_dir_col,
    url_host_col,
)
from ..operators.collisions import assign_collision_names
from ..operators.latest import latest_snapshot_per_url, valid_cdx
from ..operators.schedule import pace_slot_col, per_host_topk
from ..operators.seen import build_bloom_sketches, unseen_with_bloom_state
from ..sources.fetch_shim import finalize_markdown_stage, page_pass_stage

# The standalone stages the page pass fuses are re-exported here only
# because perfbench's LayerProbes patch them on this module; run_epoch
# calls none of them.
from ..sources.fetch_shim import (  # noqa: F401
    asset_fetch_stage,
    extract_stage,
    fetch_stage,
    find_assets_stage,
    memento_stage,
)
from ..sources.state import TABLES, StateStore

# Imported by callers that read these tables or build their rows.
URL_SEEN_SCHEMA = TABLES["url_seen"]
PROCESSED_SCHEMA = TABLES["processed"]
METRICS_SCHEMA = TABLES["metrics"]
DOCS_RAW_SCHEMA = TABLES["docs_raw"]
HTML_RAW_SCHEMA = TABLES["html_raw"]
ASSETS_RAW_SCHEMA = TABLES["assets_raw"]
_FRONTIER_COLS = TABLES["frontier"].names

# AUTO scale posture for long crawls (see ``CrawlPlan.run``): bucketize
# url_seen once this many newly seen rows have accumulated unbucketed,
# and compact the packed state once the store lists more than this
# many of its dirs. Short test crawls, which roll back, trip neither.
AUTO_BUCKETIZE_MIN_ROWS = 10_000
AUTO_COMPACT_MAX_DIRS = 16

# Save order is the TWO-column key (save_seq=page seq, save_pos=
# within-page position): md/html saves sort after the page's assets,
# mirroring the reference's per-iteration order assets -> html -> md
# (main.py:109-161). NOT a packed seq*2^k+pos product — expansion
# seqs (>=2^50) would overflow int64 in the product and alias save
# orders across seq namespaces.
_MD_POS = (1 << 62)  # sorts after any asset position


def seed_frontier_from_cdx(
    cdx: DataFrame,
    prefiltered_feed: bool = True,
    canonicalize: bool = False,
) -> DataFrame:
    """CDX table -> initial frontier: F2/F3 server-filter analog
    (statuscode:200 + mimetype:text/html, pushed into the scan), F4/F5
    validation, A1 latest-per-URL with first-appearance seq, host
    extraction, depth 0. ``prefiltered_feed`` sets the null semantics
    (see sources/cdx.py:cdx_server_filter). ``canonicalize`` rewrites
    urls through canonical_url_col BEFORE the latest-per-URL dedup so
    equivalent spellings collapse to one frontier row (pure codegen in
    the scan projection; the frontier then hash-partitions by
    canonical-URL hash everywhere downstream)."""
    from ..sources.cdx import cdx_server_filter

    if "status" in cdx.columns:
        cdx = cdx_server_filter(cdx, prefiltered_feed=prefiltered_feed)
    if canonicalize:
        from ..functions.scalar import canonical_url_col

        cdx = cdx.withColumn("url", canonical_url_col(F.col("url")))
    latest = latest_snapshot_per_url(valid_cdx(cdx))
    return latest.select(
        "url",
        "ts",
        url_host_col(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        F.lit(0.0).alias("priority"),
        "seq",
        F.lit(1).alias("attempt"),
        F.lit(0).alias("eligible_epoch"),
    )


@dataclass
class CrawlRunStats:
    """Epochs run and rows scheduled by one ``run`` call; the per-epoch
    route counters are in the committed ``metrics`` table."""

    epochs: int = 0
    scheduled: int = 0


class CrawlPlan:
    def __init__(self, spark: SparkSession, store: StateStore, config: EngineConfig):
        self.spark = spark
        self.store = store
        self.config = config
        # driver-side cache of the bloom table's (n, nbytes, bad)
        # stats: initialized with one tiny aggregate on the first
        # epoch of a run, then advanced from the staged dir sizes the
        # plan itself writes — no per-epoch stats job. Invalidated on
        # compaction/bucketize (the table is rewritten).
        self._bloom_stats: dict | None = None
        # last epoch's J1 probe mode ("broadcast"/"cogroup"/"exact");
        # None until run_epoch has executed once
        self.last_bloom_mode: str | None = None

    # ---- one epoch ----
    def run_epoch(self, epoch: int) -> tuple[int, int]:
        """Returns (rows scheduled this epoch, frontier rows remaining).

        Two Spark actions (see the module docstring): the page pass
        persists one row per scheduled url, then one packed write
        stages every output of the epoch from that frame. Both are
        planned statically: adaptive execution submits every shuffle
        and broadcast stage as a Spark job of its own and re-plans
        between them, which buys nothing here — the epoch's exchanges
        have explicit widths and its small sides broadcast by size —
        and cost ~15 jobs of fixed overhead per epoch instead of ~6."""
        conf = self.spark.conf
        adaptive = conf.get("spark.sql.adaptive.enabled")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._run_epoch(epoch)
        finally:
            conf.set("spark.sql.adaptive.enabled", adaptive)

    def _run_epoch(self, epoch: int) -> tuple[int, int]:
        import os
        import time

        from pyspark.sql import Observation

        trace = os.environ.get("SPARK_GRAFT_EPOCH_TRACE") == "1"
        marks: list[tuple[str, float]] = []
        t0 = time.perf_counter()

        def mark(label: str) -> None:
            nonlocal t0
            now = time.perf_counter()
            marks.append((label, now - t0))
            t0 = now

        cfg = self.config
        store = self.store
        frontier = store.read_latest_only("frontier")
        # J1 membership relation, read as (bucketed base generations,
        # epoch deltas): once bucketize_seen_every_epochs has fired,
        # each generation's scan is hash-bucketed by url and the
        # anti-join against it is storage-partitioned — the big (seen)
        # side never shuffles, only the frontier probe side does (once:
        # subsequent generations reuse its clustering); the deltas are
        # the few recent epochs' rows and broadcast/shuffle cheaply.
        seen_bases, seen_delta = store.read_parts("url_seen")
        eligible = frontier.filter(F.col("eligible_epoch") <= epoch)
        held = frontier.filter(F.col("eligible_epoch") > epoch)

        # J1 before the robots gate: a url already seen (a checkpointed
        # one included) leaves the frontier silently, as the oracle
        # skips it; only unseen urls can be recorded robots_blocked.
        # The probe mode (broadcast / pid-pruned cogroup / exact-only)
        # is chosen from the persisted sketch state's size + version
        # (operators/seen.py:unseen_with_bloom_state).
        sketch_df = store.read("bloom")
        unseen, self.last_bloom_mode = unseen_with_bloom_state(
            eligible, seen_bases + [seen_delta], sketch_df, cfg.seen_partitions, self.spark,
            stats=self._cached_bloom_stats(sketch_df),
        )
        budget_col = None
        if cfg.respect_robots:
            from ..operators.robots import ROBOTS_SCHEMA, apply_robots_gate, host_budget_col

            # the gate's crawl_delay is then null exactly for hosts
            # without a robots row, which keep the global budget
            # (per-host budgets without a second robots join)
            robots = store.read("robots", ROBOTS_SCHEMA).withColumn(
                "crawl_delay",
                F.coalesce(F.col("crawl_delay"), F.lit(cfg.request_delay_seconds)),
            )
            unseen = apply_robots_gate(unseen, robots).withColumn(
                "host_budget", host_budget_col(cfg.epoch_seconds, F.col("crawl_delay"))
            )
            budget_col = "host_budget"
        # cached: the schedule, the leftover anti-join and the
        # robots-blocked rows all read the probed frame
        unseen = unseen.cache()
        allowed = unseen.filter(~F.col("robots_blocked")) if budget_col else unseen

        sched = per_host_topk(
            allowed, cfg.per_host_epoch_budget, cfg.host_salt_buckets, budget_col=budget_col
        )
        # politeness calendar: the within-host rank becomes an absolute
        # firing slot — same-host spacing >= delay in any partition
        # layout (see module docstring)
        sched = sched.select(
            *[c for c in _FRONTIER_COLS if c != "eligible_epoch"],
            pace_slot_col(cfg.request_delay_seconds).alias("pace_slot"),
        )
        # The schedule is tiny by BYTES (urls) but heavy by WORK
        # (fetch + DOM parse per row), so it is spread explicitly over
        # the cores by url hash. Politeness needs no same-host
        # co-location because the pace calendar assigns absolute slots;
        # strict-politeness deployments co-locate hosts (config.py).
        fetch_key = F.col("host") if cfg.fetch_colocate_hosts else F.col("url")
        pacer = None
        if cfg.live_pacing:
            # bound to wall-clock epoch start (cross-machine comparable,
            # unlike monotonic) and the CONFIGURED per-host delay — the
            # closure ships to each task with its own last-fire state
            from ..sources.fetch_shim import politeness_pacer

            pacer = politeness_pacer(
                time.time(), cfg.request_delay_seconds, now=time.time
            )
        page = (
            page_pass_stage(
                sched.repartition(self.spark.sparkContext.defaultParallelism, fetch_key),
                cfg, pacer=pacer,
            )
            .withColumn("partition_id", F.spark_partition_id())
            .persist()
        )
        # SNK5/A3: the epoch counters (the reference's run counters,
        # main.py:50-54,111-139,169-175) ride the action that fills the
        # page cache as observed metrics — no extra job
        obs = Observation(f"page_{epoch}")
        page.observe(obs, *self._page_counters()).write.format("noop").mode(
            "overwrite"
        ).save()
        counts = obs.get
        n_sched = int(counts["scheduled"])
        mark("page_pass")

        # every epoch commits its counters, an idle one (all zero) too
        members = {
            "lineage": self._lineage(epoch, page),
            "metrics": self.spark.createDataFrame(
                self._metric_rows(epoch, counts), METRICS_SCHEMA
            ),
        }
        if n_sched:
            members.update(self._page_members(epoch, page))
        if budget_col:
            blocked = unseen.filter(F.col("robots_blocked")).select(
                "url", "seq", F.lit("robots_blocked").alias("disposition"),
                F.lit(epoch).alias("epoch"),
            )
            members["processed"] = (
                members["processed"].unionByName(blocked) if n_sched else blocked
            )

        new_frontier = held.unionByName(
            allowed.join(page.select("url"), "url", "left_anti").select(*_FRONTIER_COLS)
        )
        if n_sched:
            retry = page.filter(F.col("route") == "retry").select(
                "url", "ts", "host", "depth", "priority", "seq",
                (F.col("attempt") + 1).alias("attempt"),
                (F.lit(epoch) + backoff_epochs_col(F.col("attempt"))).alias("eligible_epoch"),
            )
            new_frontier = new_frontier.unionByName(retry)
            if cfg.expand_links:
                new_frontier = new_frontier.unionByName(
                    self._expand_links(page, frontier, epoch)
                )
        # the frontier row count rides the staged write itself (no
        # post-commit re-read job)
        obs_frontier = Observation(f"frontier_{epoch}")
        members["frontier"] = new_frontier.observe(
            obs_frontier, F.count(F.lit(1)).alias("n")
        )
        # ONE write for the whole epoch, narrowed by an exchange of its
        # small rows to a width scaled to the epoch (~4k pages a task)
        # so the write tasks are not pure scheduler overhead
        width = max(1, min(self.spark.sparkContext.defaultParallelism, n_sched // 4096 + 1))
        path = store.stage_packed(epoch, members, coalesce_to=width)
        mark("packed_write")
        store.commit(epoch, dict.fromkeys(members, path))
        # seen_new rows <= n_sched; the analytic bound only needs an
        # upper bound on this epoch's new-seen row count
        self._advance_bloom_stats(n_sched)
        n_pending = int(obs_frontier.get["n"])
        page.unpersist()
        unseen.unpersist()
        mark("commit")
        if trace:
            print(
                f"EPOCH_TRACE epoch={epoch} n_sched={n_sched} "
                + " ".join(f"{k}={v:.2f}s" for k, v in marks)
            )
        return n_sched, n_pending

    def _page_counters(self) -> list:
        """Observed aggregates over the page frame: the route/extract
        counters and the asset counters (every found asset of an
        enabled kind is attempted; failures are unfetched payloads)."""
        extracted = "title IS NOT NULL AND md_ok"
        exprs = {
            "scheduled": "count(1)",
            "fetched_ok": "count_if(route = 'ok')",
            "retry": "count_if(route = 'retry')",
            "dead_wayback": "count_if(route = 'dead_wayback')",
            "extract_ok": f"count_if(route = 'ok' AND {extracted})",
            "extract_fail": f"count_if(route = 'ok' AND NOT ({extracted}))",
        }

        def n_assets(pred: str) -> str:
            return f"coalesce(sum(size(filter(assets, a -> {pred}))), 0)"

        facets = {"found": "true", "saved": "a.fetched", "failed": "NOT a.fetched"}
        for facet, pred in facets.items():
            exprs[f"assets_{facet}"] = n_assets(pred)
            for kind in self.config.enabled_asset_kinds:
                exprs[f"assets_{facet}_{kind}"] = n_assets(f"a.kind = '{kind}' AND {pred}")
        return [F.expr(e).alias(name) for name, e in exprs.items()]

    def _metric_rows(self, epoch: int, c) -> list[tuple]:
        names = [
            "scheduled", "fetched_total", "fetched_ok", "retry", "dead_wayback",
            "extract_ok", "extract_fail", "assets_found", "assets_attempted",
            "assets_saved", "assets_failed",
        ] + [
            f"assets_{facet}_{kind}"
            for kind in self.config.enabled_asset_kinds
            for facet in ("found", "saved", "failed")
        ]
        # every scheduled fetch is routed exactly once; attempted ==
        # found: every found asset of an enabled kind is fetched
        alias = {"fetched_total": "scheduled", "assets_attempted": "assets_found"}
        return [(epoch, n, int(c[alias.get(n, n)])) for n in names]

    def _page_members(self, epoch: int, page: DataFrame) -> dict[str, DataFrame]:
        """The epoch's packed members that project or explode the page
        frame: docs_raw / html_raw / assets_raw / images / url_seen /
        processed / bloom."""
        cfg = self.config
        ep = F.lit(epoch).alias("epoch")
        extracted = F.col("title").isNotNull() & F.col("md_ok")
        docs = page.filter(F.col("via").isNotNull() & extracted).select(
            "url",
            F.when(F.col("via") == "memento", F.lit(MEMENTO_NOW_TS))
            .otherwise(F.col("ts")).alias("ts"),
            "seq", "via", "title", "content_html", ep,
        )
        seen_new = docs.select("url", "seq", ep)
        disposition = (
            F.when(F.col("route") == "ok", F.when(extracted, "success_wayback").otherwise("extract_fail"))
            .when(
                F.col("memento_result") == "ok",
                F.when(extracted, "success_memento").otherwise("memento_extract_or_save_fail"),
            )
            .otherwise(F.concat(F.lit("dead_"), F.col("memento_result")))
        )
        assets = page.select(
            F.col("url").alias("page_url"), "ts", "seq", F.explode("assets").alias("a")
        ).filter(F.col("a.fetched"))
        out = {
            "docs_raw": docs,
            "url_seen": seen_new,
            "processed": page.filter(F.col("route") != "retry").select(
                "url", "seq", disposition.alias("disposition"), ep
            ),
            "assets_raw": assets.select(
                "page_url", "ts", "seq", "a.kind", "a.asset_url", "a.asset_pos",
                "a.nbytes", ep,
            ),
            "bloom": build_bloom_sketches(
                seen_new, cfg.seen_partitions, expected_per_partition=4096
            ),
        }
        if cfg.save_original_html:
            # SNK2: original-HTML sink rows (file_handler.py:156-201,
            # gate main.py:148-152) — the pass keeps html only where a
            # wayback page has a non-empty title and html
            out["html_raw"] = page.filter(F.col("html").isNotNull()).select(
                "url", "ts", "seq", "title", "html", ep
            )
        if "img" in cfg.enabled_asset_kinds:
            # the graft's payload corpus (BASELINE.json:15 input_hint)
            out["images"] = page.select(F.explode("images").alias("i")).select("i.*")
        return out

    def _cached_bloom_stats(self, sketch_df: DataFrame) -> dict:
        if self._bloom_stats is None:
            from ..operators.seen import sketch_stats

            self._bloom_stats = sketch_stats(
                sketch_df, self.config.seen_partitions
            )
        return self._bloom_stats

    def _advance_bloom_stats(self, n_new_rows: int) -> None:
        """Advance the cached sketch-byte total ANALYTICALLY — a true
        upper bound on the blob bytes build_bloom_sketches can have
        written this epoch. (Compressed parquet file sizes UNDER-
        estimate blob bytes — a sparse bitmap compresses to KBs — and
        would let broadcast mode run far past BLOOM_BROADCAST_MAX_BYTES,
        exactly the unbounded-memory mode the bound exists to prevent.)
        Bound: every non-empty pid sized as if it held ALL new rows
        (each pid's actual sketch is <= that), capped at the per-sketch
        saturation bound. Over-estimating flips to cogroup mode early —
        conservative in the safe direction."""
        import math

        if self._bloom_stats is None or n_new_rows <= 0:
            return
        from ..operators.seen import BLOOM_FPP, DEFAULT_MAX_BITS_PER_SKETCH

        expected = max(4096, n_new_rows)
        n_bits = int(-expected * math.log(BLOOM_FPP) / (math.log(2) ** 2))
        n_bits = max(128, min((n_bits + 63) // 64 * 64, DEFAULT_MAX_BITS_PER_SKETCH))
        n_sketches = min(self.config.seen_partitions, n_new_rows)
        self._bloom_stats = {
            "n": self._bloom_stats["n"] + n_sketches,
            "nbytes": self._bloom_stats["nbytes"] + n_sketches * (32 + n_bits // 8),
            "bad": self._bloom_stats["bad"],
        }

    def _expand_links(self, page: DataFrame, frontier: DataFrame, epoch: int) -> DataFrame:
        """U1-adjacent frontier expansion: the <a href> links the page
        pass found in fetched pages -> new frontier rows at depth+1
        (bounded by max_depth), deduped within the batch and against
        the current frontier (the exact seen-set anti-join happens at
        scheduling time).

        New seqs are a pure function of (depth, parent seq, link
        position) so expansion stays deterministic under any task
        ordering: seq = depth<<50 | parent_seq<<12 | pos."""
        cfg = self.config
        links = page.filter(F.col("route") == "ok").select(
            F.col("seq").alias("parent_seq"),
            F.col("depth").alias("parent_depth"),
            F.col("ts").alias("parent_ts"),
            F.explode("links").alias("l"),
        ).select("parent_seq", "parent_depth", "parent_ts", "l.url", "l.pos")
        if cfg.canonicalize_urls:
            # discovered links collapse to canonical form BEFORE the
            # per-url dedup below, matching the seed path — the whole
            # frontier keys on canonical urls or none of it does
            from ..functions.scalar import canonical_url_col

            links = links.withColumn("url", canonical_url_col(F.col("url")))
        expanded = (
            links.filter(F.col("parent_depth") + 1 <= cfg.max_depth)
            .select(
                "url",
                F.col("parent_ts").alias("ts"),
                F.parse_url("url", F.lit("HOST")).alias("host"),
                (F.col("parent_depth") + 1).alias("depth"),
                (F.col("parent_depth") + 1).cast("double").alias("priority"),
                (
                    (F.col("parent_depth") + 1).cast("long") * F.lit(1 << 50)
                    + F.col("parent_seq") * F.lit(1 << 12)
                    + F.col("pos")
                ).alias("seq"),
                F.lit(1).alias("attempt"),
                F.lit(epoch + 1).alias("eligible_epoch"),
            )
        )
        # batch-internal + frontier dedup (keep the smallest seq per url)
        from pyspark.sql import Window as W

        w = W.partitionBy("url").orderBy("seq")
        expanded = (
            expanded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .join(frontier.select("url"), "url", "left_anti")
        )
        return expanded.select(*_FRONTIER_COLS)

    def _lineage(self, epoch: int, page: DataFrame) -> DataFrame:
        """Per-epoch per-host grant counts (politeness audit) +
        per-fetch-partition row counts (lineage, BASELINE.json:6)."""
        return (
            page.groupBy("host", "partition_id")
            .agg(F.count("*").alias("granted"))
            .withColumn("epoch", F.lit(epoch))
        )

    def seed_checkpoint(self, urls: DataFrame) -> None:
        """Pre-seed the URL-seen set (the reference's checkpoint file,
        file_handler.py:13-29). INVARIANT: the Bloom side-table must
        cover every url_seen row (it is an exclusion optimization; a
        row in url_seen but in no sketch could be scheduled twice), so
        seen rows and their sketches are committed together."""
        cfg = self.config
        if cfg.canonicalize_urls:
            # checkpoint rows must key the same canonical form the
            # frontier uses, or pre-seeded urls would not match
            from ..functions.scalar import canonical_url_col

            urls = urls.withColumn("url", canonical_url_col(F.col("url")))
        seen = urls.select(
            "url",
            F.coalesce(F.col("seq"), F.lit(-1)).alias("seq"),
            F.lit(-1).alias("epoch"),
        ) if "seq" in urls.columns else urls.select(
            "url", F.lit(-1).alias("seq"), F.lit(-1).alias("epoch")
        )
        sketches = build_bloom_sketches(seen, cfg.seen_partitions, expected_per_partition=4096)
        self.store.commit_seed({"url_seen": seen, "bloom": sketches})
        self._bloom_stats = None

    # ---- full run ----
    def run(
        self,
        cdx: DataFrame,
        max_epochs: int = 200,
        resume: bool = False,
    ) -> CrawlRunStats:
        stats = CrawlRunStats()
        store = self.store
        start_epoch = store.last_epoch + 1
        if not resume and start_epoch == 0:
            frontier0 = seed_frontier_from_cdx(
                cdx,
                prefiltered_feed=self.config.prefiltered_feed,
                canonicalize=self.config.canonicalize_urls,
            )
            store.commit_seed({"frontier": frontier0})
        pending = store.read_latest_only("frontier").count()
        cfg = self.config
        bucketize_every = cfg.bucketize_seen_every_epochs
        # AUTO scale posture (bucketize: the at-scale default,
        # config=None; compaction: always): the thresholds are derived
        # from driver-side state already in hand — rows scheduled since
        # the last bucketize, and the store's packed-dir count — so a
        # default-config long crawl bucketizes/compacts itself instead
        # of degrading into an unbucketed O(seen) anti-join + unbounded
        # dir listings, while short test crawls (which need rollback,
        # foreclosed by the merge floor) never trigger either.
        # Seed the AUTO-bucketize counter from the PERSISTED
        # unbucketized delta, not 0: a crawl resumed after a crash must
        # count the deltas accumulated before the restart, or repeated
        # restarts could keep the delta above AUTO_BUCKETIZE_MIN_ROWS
        # indefinitely without ever bucketizing. One O(delta) count at
        # run() entry, auto mode only (the delta is bounded by the
        # threshold itself plus one epoch, so this stays cheap).
        rows_since_bucketize = 0
        if bucketize_every is None and store.last_epoch >= 0:
            _, seen_delta = store.read_parts("url_seen")
            rows_since_bucketize = seen_delta.count()
        for epoch in range(start_epoch, max_epochs):
            if pending == 0:
                break
            n, pending = self.run_epoch(epoch)
            stats.epochs += 1
            stats.scheduled += n
            rows_since_bucketize += n
            # bad sketch state (foreign version / build-time P !=
            # cfg.seen_partitions) forces an immediate bucketize+bloom
            # rebuild: J1 pays exact-anti-join mode for exactly the ONE
            # epoch that detected it, never for the rest of the crawl
            # (an explicit bucketize_every=0 = "never" — e.g. rollback
            # tests — is respected: the floor a forced bucketize sets
            # would foreclose truncate_to_epoch)
            bad_sketches = bucketize_every != 0 and bool(
                self._bloom_stats and self._bloom_stats.get("bad")
            )
            do_bucketize = bad_sketches or (
                bucketize_every and (epoch + 1) % bucketize_every == 0
            ) or (
                bucketize_every is None
                and rows_since_bucketize >= AUTO_BUCKETIZE_MIN_ROWS
            )
            if do_bucketize:
                # fold the recent url_seen deltas into a new bucketed
                # generation (O(delta) write): subsequent epochs' J1
                # anti-join is storage-partitioned (big side never
                # shuffles). Bloom keeps covering the merged rows;
                # compact keeps the packed dir list bounded.
                store.bucketize(buckets=cfg.seen_partitions)
                bloom = None
                if bad_sketches:
                    # the epoch's sketches were unusable (foreign probe
                    # version or a build-time partition count differing
                    # from cfg.seen_partitions — e.g. a resume with
                    # changed seen_partitions), so J1 has been paying
                    # exact-anti-join mode. Rebuild the WHOLE sketch set
                    # at the current P from the just-bucketized seen set
                    # — the one O(seen) pass, ridden on the bucketize
                    # epoch's compaction — so the next epoch's probe
                    # returns to broadcast/cogroup mode instead of exact
                    # forever.
                    bloom = build_bloom_sketches(
                        store.read("url_seen").select("url"),
                        cfg.seen_partitions,
                        expected_per_partition=4096,
                    )
                store.compact(bloom)
                self._bloom_stats = None
                rows_since_bucketize = 0
            if store.packed_dirs > AUTO_COMPACT_MAX_DIRS:
                # bound the per-epoch packed-dir unions on long crawls;
                # payload rows stay where their epoch wrote them —
                # rewriting payload bytes on every compaction would
                # dwarf the listing cost it saves
                store.compact()
                self._bloom_stats = None
        return stats

    # ---- finalize: names + markdown + final docs table ----
    def finalize_outputs(self) -> tuple[DataFrame, DataFrame]:
        """Deterministic post-crawl materialization: assign collision
        names, build per-page saved-asset maps, rewrite + convert to
        markdown. Returns (docs, assets) DataFrames. Idempotent —
        resumable jobs recompute identical outputs (tested).

        NOTE: a page whose name assignment aborts at the collision
        limit (file_handler.py:135-137 save_fail) is dropped here even
        though its URL was provisionally committed to url_seen at
        epoch time — use ``final_url_seen`` for the exported
        checkpoint (the reference does not checkpoint failed saves,
        main.py:161-166)."""
        cfg = self.config
        store = self.store
        docs_raw = store.read("docs_raw")
        assets_raw = store.read("assets_raw")

        from ..functions.scalar import asset_base_ext_cols

        # X6 asset name inputs as pure Catalyst expressions (parity
        # with the oracle's python kernel is property-tested)
        base_col, ext_col = asset_base_ext_cols(F.col("asset_url"))
        kind_dir = F.when(F.col("kind") == "js", "js").when(F.col("kind") == "css", "css").when(F.col("kind") == "img", "img").otherwise("_unknown")
        asset_saves = assets_raw.select(
            F.concat(
                page_dir_col(F.col("page_url"), cfg.output_dir),
                F.lit("/_assets/"), kind_dir,
            ).alias("dir"),
            base_col.alias("base"),
            ext_col.alias("ext"),
            F.lit("asset").alias("style"),
            F.col("seq").alias("save_seq"),
            F.col("asset_pos").cast("long").alias("save_pos"),
            F.col("page_url").alias("url"),
            "asset_url", "kind", "nbytes", "seq",
        )
        doc_saves = docs_raw.select(
            page_dir_col(F.col("url"), cfg.output_dir).alias("dir"),
            markdown_base_filename_col(F.col("title"), F.col("url")).alias("base"),
            F.lit(".md").alias("ext"),
            F.lit("page").alias("style"),
            F.col("seq").alias("save_seq"),
            F.lit(_MD_POS).alias("save_pos"),
            "url",
            F.lit(None).cast("string").alias("asset_url"),
            F.lit(None).cast("string").alias("kind"),
            F.lit(None).cast("int").alias("nbytes"),
            "seq",
        )
        named = assign_collision_names(asset_saves.unionByName(doc_saves)).cache()

        assets_named = named.filter(F.col("style") == "asset").select(
            F.col("url").alias("page_url"), "asset_url", "kind", "dir",
            "filename", "nbytes", "seq",
        )
        # J2: per-page saved-assets map (asset_url -> local path)
        saved_maps = (
            assets_named.filter(F.col("filename").isNotNull())
            .groupBy("page_url")
            .agg(
                F.to_json(
                    F.map_from_entries(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col("asset_url"),
                                    F.concat(F.col("dir"), F.lit("/"), F.col("filename")).alias("path"),
                                )
                            )
                        )
                    )
                ).alias("saved_assets")
            )
        )
        docs_named = named.filter(F.col("style") == "page").select(
            "url", "dir", "filename", "base",
        )
        docs_joined = (
            docs_raw.join(docs_named, "url")
            .join(saved_maps, docs_raw.url == saved_maps.page_url, "left")
            .drop("page_url")
        )
        finalized = finalize_markdown_stage(docs_joined, cfg)
        docs = finalized.filter(
            F.col("filename").isNotNull() & F.col("markdown").isNotNull()
        ).select(
            "url", "ts", "seq", "via", "title", "dir", "filename",
            F.concat(
                markdown_header_col(F.col("title"), F.col("url"), F.col("ts")),
                F.col("markdown"),
            ).alias("markdown"),
        )
        return docs, assets_named

    def finalize_html(self) -> DataFrame:
        """SNK2: the original-HTML output table (url, ts, seq, title,
        dir, filename, html), names assigned by the same deterministic
        collision replay as markdown/assets.

        The .html namespace is computed in its OWN assign_collision_
        names pass: the reference's exists-probe is on the full path
        including extension (file_handler.py:180-188), so .html names
        can never collide with .md or asset names — the replay groups
        (dir, base, ext) are disjoint from the md/asset pass and the
        two passes commute. One html save per page => save order
        within a group is page seq order. Idempotent like
        finalize_outputs."""
        cfg = self.config
        html_raw = self.store.read("html_raw")
        saves = html_raw.select(
            page_dir_col(F.col("url"), cfg.output_dir).alias("dir"),
            markdown_base_filename_col(F.col("title"), F.col("url")).alias("base"),
            F.lit(".html").alias("ext"),
            F.lit("page").alias("style"),
            F.col("seq").alias("save_seq"),
            "url", "ts", "seq", "title", "html",
        )
        named = assign_collision_names(saves)
        return named.filter(
            F.col("filename").isNotNull() & F.col("html").isNotNull()
        ).select("url", "ts", "seq", "title", "dir", "filename", "html")

    def final_url_seen(self, docs: DataFrame) -> DataFrame:
        """Reconciled URL-seen set (the exported checkpoint): epoch
        url_seen minus URLs whose finalize dropped the doc (collision-
        limit save_fail — not checkpointed by the reference). Exact
        semi-join against the finalized docs."""
        url_seen = self.store.read("url_seen")
        seeded = url_seen.filter(F.col("epoch") < 0)  # pre-seeded checkpoint rows
        crawled = url_seen.filter(F.col("epoch") >= 0).join(
            docs.select("url"), "url", "left_semi"
        )
        return seeded.unionByName(crawled)
