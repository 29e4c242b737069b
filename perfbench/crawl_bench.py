"""``recrawl_resume``: a checkpointed recrawl that is killed and resumed.

Set-up seeds the job's state store with a previous crawl's checkpoint
(most of the CDX frontier plus filler URLs, so ``url_seen`` is large)
and a robots table. The timed job seeds the frontier from the CDX,
"kills" the crawl right after that commit (``truncate_to_epoch`` to
the last committed epoch), resumes with a fresh ``CrawlPlan`` on the
same store until the frontier drains, and finalizes the markdown/asset
and original-HTML outputs. ``max_retries=0`` keeps the crawl to one
epoch: an epoch costs seconds of fixed Spark work however few rows it
has, and a run has about a minute.

Correctness: the processed order and the newly seen URLs must equal
the sequential oracle's crawl order and seen list for the same CDX,
checkpoint and robots rules; the finalized documents must cover the
oracle's documents.
"""

from __future__ import annotations

import contextlib
import io
import time
from pathlib import Path

from harness import Timer, keep_going, median
from spans import covered, parse_epoch_trace

SIZES = {
    "full": dict(n_urls=2000, n_hosts=64, n_filler=20_000, preseed=0.9),
    "smoke": dict(n_urls=300, n_hosts=8, n_filler=2000, preseed=0.9),
}


def engine_config(cores: int):
    from web_archive_downloader_spark.datagen import default_config

    return default_config(
        target_domain="",
        epoch_seconds=180.0,
        max_retries=0,
        respect_robots=True,
        # never bucketize: the resumed J1 probe reads the whole
        # checkpoint as unbucketed deltas (the large read under test)
        bucketize_seen_every_epochs=0,
        seen_partitions=2 * cores,
        host_salt_buckets=cores,
    )


def _seen_frame(spark, urls: list[str]):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({"url": urls}))


def prepare_store(spark, root: Path, data: dict, cfg, seed_checkpoint: bool):
    """A fresh state store holding the robots table and, optionally,
    the checkpoint (checkpoint + filler URLs in url_seen and Bloom)."""
    from web_archive_downloader_spark.operators.robots import ROBOTS_SCHEMA
    from web_archive_downloader_spark.plans.crawl import CrawlPlan
    from web_archive_downloader_spark.sources.state import StateStore

    store = StateStore(str(root), spark)
    manifest = store.read_manifest()
    manifest["tables"].setdefault("robots", []).append(
        store.stage("robots", -1, spark.createDataFrame(data["robots"], ROBOTS_SCHEMA))
    )
    store._write_manifest(manifest)
    plan = CrawlPlan(spark, store, cfg)
    if seed_checkpoint:
        plan.seed_checkpoint(_seen_frame(spark, data["checkpoint"] + data["filler"]))
    return store, plan


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class EpochClock:
    """Wraps one plan's ``run_epoch``: records (epoch, start, end,
    scheduled) for every epoch and, when tracing, the epoch span, its
    Spark job/task counts and the in-program EPOCH_TRACE marks."""

    def __init__(self, tracer, spark, probe_jobs: set[int]):
        self.tracer = tracer
        self.spark = spark
        self.probe_jobs = probe_jobs  # Spark jobs the layer probes ran
        self.epochs: list[dict] = []

    def attach(self, plan) -> None:
        orig = plan.run_epoch

        def run_epoch(epoch: int):
            tracker = self.spark.sparkContext.statusTracker()
            before = set(tracker.getJobIdsForGroup()) if self.tracer.enabled else set()
            out = io.StringIO()
            with self.tracer.span("crawl.run_epoch", epoch=epoch) as rec:
                start = time.perf_counter()
                if self.tracer.enabled:
                    with contextlib.redirect_stdout(out):
                        n, pending = orig(epoch)
                else:
                    n, pending = orig(epoch)
                end = time.perf_counter()
            row = {"epoch": epoch, "start": start, "end": end, "scheduled": n}
            if self.tracer.enabled:
                jobs = set(tracker.getJobIdsForGroup()) - before - self.probe_jobs
                row["jobs"] = len(jobs)
                row["tasks"] = sum(
                    info.numTasks
                    for j in jobs
                    if (ji := tracker.getJobInfo(j)) is not None
                    for s in ji.stageIds
                    if (info := tracker.getStageInfo(s)) is not None
                )
                row["span"] = rec
                row["marks"] = [
                    m for line in out.getvalue().splitlines() for m in parse_epoch_trace(line)
                ]
            self.epochs.append(row)
            return n, pending

        plan.run_epoch = run_epoch


def run_job(spark, store, plan, data: dict, cfg, tracer, probe_jobs: set[int]) -> dict:
    """One timed recrawl job on a prepared store."""
    from web_archive_downloader_spark.plans.crawl import CrawlPlan
    from web_archive_downloader_spark.sources.cdx import cdx_dataframe

    clock = EpochClock(tracer, spark, probe_jobs)
    clock.attach(plan)
    with tracer.span("job.recrawl_resume"), Timer() as job:
        with Timer() as leg1:
            stats1 = plan.run(cdx_dataframe(spark, data["cdx"]), max_epochs=0)
        kill_epoch = store.last_epoch
        with tracer.span("state.truncate"):
            store.truncate_to_epoch(kill_epoch)
        with Timer() as leg2:
            resume_t0 = time.perf_counter()
            plan2 = CrawlPlan(spark, store, cfg)
            clock.attach(plan2)
            stats2 = plan2.run(cdx_dataframe(spark, data["cdx"]), resume=True)
        with Timer() as fin:
            with tracer.span("crawl.finalize_outputs"):
                docs, assets = plan2.finalize_outputs()
                _force(docs)
                _force(assets)
            with tracer.span("crawl.finalize_html"):
                _force(plan2.finalize_html())
    resumed = [e for e in clock.epochs if e["start"] >= resume_t0]
    return {
        "job_s": job.s,
        "loop_s": leg1.s + leg2.s,
        "scheduled": stats1.scheduled + stats2.scheduled,
        "epochs": clock.epochs,
        "resume_s": (resumed[0]["end"] - resume_t0) if resumed else leg2.s,
        "finalize_s": fin.s,
        "plan": plan2,
        "docs": docs,
    }


def check_job(store, job: dict, oracle) -> tuple[int, int]:
    """(attempted, failed): one operation per URL the oracle processed;
    every position where order, seen list or saved docs disagree fails."""
    from pyspark.sql import functions as F

    from web_archive_downloader_spark.plans.crawl import PROCESSED_SCHEMA, URL_SEEN_SCHEMA

    order = [r.url for r in store.read("processed", PROCESSED_SCHEMA).orderBy("seq").collect()]
    seen = [
        r.url
        for r in store.read("url_seen", URL_SEEN_SCHEMA)
        .filter(F.col("epoch") >= 0)
        .orderBy("seq")
        .collect()
    ]
    docs = {r.url for r in job["docs"].select("url").collect()}
    want_docs = {d["url"] for d in oracle.docs}
    failed = sum(a != b for a, b in zip(order, oracle.crawl_order))
    failed += abs(len(order) - len(oracle.crawl_order))
    failed += sum(a != b for a, b in zip(seen, oracle.seen)) + abs(len(seen) - len(oracle.seen))
    failed += len(docs ^ want_docs)
    return max(1, len(oracle.crawl_order)), failed


class LayerProbes:
    """Per-layer timing for the traced run.

    Eager layers (StateStore methods) are wrapped in place. Lazy layers
    are re-invoked in isolation: when the crawl calls a layer function,
    the wrapper first materializes the call's DataFrame inputs
    (``localCheckpoint``), re-runs the layer on them inside a span and
    forces the result into a noop sink, then hands the crawl its own,
    untouched result. Isolation work sits under ``trace.isolate`` spans
    so it can be netted out of the epoch span.
    """

    def __init__(self, tracer, spark, cfg):
        self.tracer = tracer
        self.spark = spark
        self.cfg = cfg
        self.counts: dict[str, float] = {}
        self.jobs: set[int] = set()  # Spark job ids of the isolation runs
        self._undo: list = []

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def __enter__(self) -> "LayerProbes":
        import web_archive_downloader_spark.operators.images as images
        import web_archive_downloader_spark.operators.robots as robots
        import web_archive_downloader_spark.plans.crawl as crawl
        from web_archive_downloader_spark.sources.state import StateStore

        for meth in ("stage_packed", "commit", "read_parts"):
            self._patch(StateStore, meth, self._eager(f"state.{meth}"))
        self._patch(StateStore, "stage", self._stage)
        iso = self._isolated
        self._patch(crawl, "seed_frontier_from_cdx", iso("seed.frontier", (0,)))
        self._patch(crawl, "unseen_with_bloom_state", iso("seen.probe", (0,), self._seen_counts))
        self._patch(crawl, "build_bloom_sketches", iso("seen.build_sketches", (0,)))
        self._patch(crawl, "per_host_topk", iso("schedule.topk", (0,), self._grant_counts))
        self._patch(crawl, "fetch_stage", iso("fetch.stage", (0,), self._fetch_counts))
        self._patch(crawl, "extract_stage", iso("extract.stage", (0,)))
        self._patch(crawl, "find_assets_stage", iso("assets.find", (0,)))
        self._patch(crawl, "asset_fetch_stage", iso("assets.fetch", (0,)))
        self._patch(crawl, "memento_stage", iso("memento.stage", (0,)))
        self._patch(crawl, "assign_collision_names", iso("collisions.assign", (0,)))
        self._patch(robots, "apply_robots_gate", iso("robots.gate", (0,), self._robots_counts))
        self._patch(images, "extract_captions_stage", iso("images.captions", (0,)))
        self._patch(images, "images_from_assets", iso("images.from_assets", (0, 1)))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def _eager(self, name: str):
        tracer = self.tracer

        def make(orig):
            def wrapper(*args, **kw):
                with tracer.span(name):
                    return orig(*args, **kw)

            return wrapper

        return make

    def _stage(self, orig):
        def wrapper(store, table, epoch, df, *args, **kw):
            label = "packed" if table == "__state__" else table
            with self.tracer.span(f"state.stage.{label}"):
                path = orig(store, table, epoch, df, *args, **kw)
            files = [p for p in Path(path).rglob("*.parquet")]
            self.add("state.files_written", len(files))
            self.add("state.bytes_written", sum(p.stat().st_size for p in files))
            return path

        return wrapper

    def _isolated(self, name: str, df_args: tuple[int, ...], counts=None):
        def make(orig):
            def wrapper(*args, **kw):
                result = orig(*args, **kw)
                tracker = self.spark.sparkContext.statusTracker()
                before = set(tracker.getJobIdsForGroup())
                with self.tracer.span("trace.isolate", iso=True):
                    frozen = list(args)
                    for i in df_args:
                        frozen[i] = args[i].localCheckpoint(eager=True)
                    with self.tracer.span(name):
                        again = orig(*frozen, **kw)
                        _force(again[0] if isinstance(again, tuple) else again)
                    if counts is not None:
                        counts(frozen, kw, again)
                self.jobs |= set(tracker.getJobIdsForGroup()) - before
                return result

            return wrapper

        return make

    def _seen_counts(self, args, kw, result) -> None:
        from pyspark.sql import functions as F

        from web_archive_downloader_spark.operators.seen import (
            anti_join_unseen,
            bloom_prefilter,
            sketch_stats,
        )

        frontier, seen_parts, sketch_df, n_parts = args[:4]
        probed = frontier.count()
        stats = sketch_stats(sketch_df, n_parts)
        self.add("seen.rows_probed", probed)
        self.add("seen.sketch_bytes", stats["nbytes"])
        if stats["n"] == 0 or stats["bad"] > 0:
            return
        sketches = [(r["partition_id"], bytes(r["sketch"])) for r in sketch_df.collect()]
        flagged = bloom_prefilter(frontier, sketches, n_parts, self.spark).filter(
            F.col("maybe_seen")
        ).drop("maybe_seen")
        passed = flagged.count()
        self.add("seen.bloom_passed", passed)
        self.add("seen.bloom_false_pos", anti_join_unseen(flagged, seen_parts).count())

    def _grant_counts(self, args, kw, result) -> None:
        self.add("schedule.eligible", args[0].count())
        self.add("schedule.granted", result.count())

    def _fetch_counts(self, args, kw, result) -> None:
        from pyspark.sql import functions as F

        row = result.agg(
            F.count(F.lit(1)).alias("n"), F.count_if(F.col("outcome") == "ok").alias("ok")
        ).first()
        self.add("fetch.rows", row["n"])
        self.add("fetch.ok", row["ok"])

    def _robots_counts(self, args, kw, result) -> None:
        from pyspark.sql import functions as F

        row = result.agg(
            F.count(F.lit(1)).alias("n"), F.count_if(F.col("robots_blocked")).alias("b")
        ).first()
        self.add("robots.rows", row["n"])
        self.add("robots.blocked", row["b"])


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tracer, probes: LayerProbes, jobs: list[dict]) -> dict[str, float]:
    """Per-layer values over the traced jobs (sums over a job, median
    across jobs; ratios from the summed counts)."""
    spans = tracer.spans
    job_spans = [s for s in spans if s["name"] == "job.recrawl_resume"]

    def per_job_sum(name: str) -> float:
        vals = []
        for js in job_spans:
            vals.append(sum(
                s["end"] - s["start"]
                for s in spans
                if s["name"] == name and js["start"] <= s["start"] <= js["end"]
            ))
        return median(vals) if vals else 0.0

    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    epochs = [e for j in jobs for e in j["epochs"]]
    net, gaps = [], []
    for e in epochs:
        sp = e["span"]
        iso = [(c["start"], c["end"]) for c in by_parent.get(sp["id"], []) if c.get("iso")]
        net.append(sp["end"] - sp["start"] - covered(iso))
        if e["marks"]:
            gaps.append(sp["end"] - sp["start"] - sum(v for _, v in e["marks"]))
    c = probes.counts
    n_jobs = max(1, len(jobs))
    m = {
        "crawl.run_epoch_s": median(net) if net else 0.0,
        "crawl.empty_epoch_ratio": _ratio(sum(e["scheduled"] == 0 for e in epochs), len(epochs)),
        "crawl.spark_jobs_per_epoch": _ratio(sum(e["jobs"] for e in epochs), len(epochs)),
        "crawl.spark_tasks_per_epoch": _ratio(sum(e["tasks"] for e in epochs), len(epochs)),
        "crawl.epoch_trace_gap_s": median(gaps) if gaps else 0.0,
        "crawl.resume_s": median([j["resume_s"] for j in jobs]),
        "state.bytes_written": c.get("state.bytes_written", 0.0) / n_jobs,
        "state.files_written": c.get("state.files_written", 0.0) / n_jobs,
        "seen.rows_probed": c.get("seen.rows_probed", 0.0) / n_jobs,
        "seen.sketch_bytes": c.get("seen.sketch_bytes", 0.0) / max(1, len(epochs)),
        "seen.bloom_pass_ratio": _ratio(c.get("seen.bloom_passed", 0), c.get("seen.rows_probed", 0)),
        "seen.bloom_false_pos_ratio": _ratio(c.get("seen.bloom_false_pos", 0), c.get("seen.bloom_passed", 0)),
        "schedule.grant_ratio": _ratio(c.get("schedule.granted", 0), c.get("schedule.eligible", 0)),
        "robots.blocked_ratio": _ratio(c.get("robots.blocked", 0), c.get("robots.rows", 0)),
        "fetch.ok_ratio": _ratio(c.get("fetch.ok", 0), c.get("fetch.rows", 0)),
    }
    for name in (
        "crawl.finalize_outputs", "crawl.finalize_html", "state.stage_packed", "state.commit",
        "state.read_parts", "seen.probe",
        "seen.build_sketches", "schedule.topk", "robots.gate", "seed.frontier", "fetch.stage",
        "extract.stage", "assets.find", "assets.fetch", "memento.stage", "images.captions",
        "images.from_assets", "collisions.assign", "trace.isolate",
    ):
        m[f"{name}_s"] = per_job_sum(name)
    for table in ("docs_raw", "assets_raw", "frontier", "images", "html_raw", "packed"):
        m[f"state.stage_s.{table}"] = per_job_sum(f"state.stage.{table}")
    m["trace.job_s"] = median([j["job_s"] for j in jobs])
    m["trace.isolation_s"] = m.pop("trace.isolate_s")
    return m


def run(ctx) -> dict:
    """Set up, run timed jobs for ``ctx.seconds``, check.

    There is no separate warm-up crawl: one epoch in a fresh JVM costs
    as much as the timed job, and a run must stay near a minute. The
    checkpoint seeding in set-up (Bloom build, parquet writes, Python
    workers) is the only work before the clock starts."""
    import inputs
    from web_archive_downloader_spark.oracle.simulator import run_oracle

    size = SIZES[ctx.size]
    spark, tracer = ctx.spark, ctx.tracer
    cfg = engine_config(ctx.cores)
    with Timer() as prep:
        with Timer() as t_in:
            data = inputs.crawl_inputs(
                ctx.seed, size["n_urls"], size["n_hosts"], size["n_filler"], size["preseed"]
            )
            rules = {h: d for h, d, _, _ in data["robots"]}
            oracle = run_oracle(data["cdx"], cfg, checkpoint=set(data["checkpoint"]), robots=rules)
        stores = ctx.work / "stores"
        with Timer() as t_store:
            store, plan = prepare_store(spark, stores / "job0", data, cfg, seed_checkpoint=True)
    ctx.setup_s += prep.s
    setup_parts = {"inputs_s": t_in.s, "store_s": t_store.s}

    jobs, attempted, failed = [], 0, 0
    started = time.perf_counter()
    probes = LayerProbes(tracer, spark, cfg) if tracer.enabled else None
    i = 0
    while True:
        with probes or contextlib.nullcontext():
            job = run_job(spark, store, plan, data, cfg, tracer, probes.jobs if probes else set())
        a, f = check_job(store, job, oracle)
        attempted, failed = attempted + a, failed + f
        del job["plan"], job["docs"]
        jobs.append(job)
        spark.catalog.clearCache()
        store.destroy()
        i += 1
        if not keep_going(started, ctx.seconds, job["job_s"]):
            break
        # each job gets its own freshly seeded store (untimed)
        store, plan = prepare_store(spark, stores / f"job{i}", data, cfg, seed_checkpoint=True)

    epochs = [e for j in jobs for e in j["epochs"]]
    info = {
        **{f"setup.{k}": v for k, v in setup_parts.items()},
        "jobs": len(jobs),
        "crawl_urls_per_s": median([j["scheduled"] / j["loop_s"] for j in jobs]),
        "epoch_s_p50": median([e["end"] - e["start"] for e in epochs]),
        "epochs_per_job": len(epochs) / len(jobs),
        "finalize_s": median([j["finalize_s"] for j in jobs]),
        "recrawl_s": median([j["job_s"] for j in jobs]),
        "resume_s": median([j["resume_s"] for j in jobs]),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "job_s": info["recrawl_s"],
            "rate_per_s": info["crawl_urls_per_s"],
        },
        "info": info,
        "layers": layer_metrics(tracer, probes, jobs) if tracer.enabled else {},
    }

