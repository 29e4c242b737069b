"""Physical-plan audits: the scale properties of the crawl epoch's own
plans (robots broadcast, frontier pushdown, URL-partitioned page pass,
partial aggregation, LeftAnti J1 in every probe mode) and of the
checked curation queries — predicate pushdown into the parquet scan,
column pruning, broadcast joins for small sides, whole-stage codegen
for scalar chains, no Python UDFs in relational paths (SURVEY §4)."""

import dataclasses
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from web_archive_downloader_spark.datagen import default_config, gen_cdx_multihost
from web_archive_downloader_spark.operators import robots as robots_mod
from web_archive_downloader_spark.operators import seen as seen_mod
from web_archive_downloader_spark.plans import crawl
from web_archive_downloader_spark.sources.cdx import cdx_dataframe
from web_archive_downloader_spark.sources.state import StateStore

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---- the crawl epoch's own plans ----------------------------------------
#
# A multi-host crawl with robots and a seeded checkpoint runs with the
# module attributes run_epoch calls wrapped (the ones perfbench's
# LayerProbes patch). Each wrapper records the executed plan of the
# frames it is given or returns, from inside run_epoch, where adaptive
# execution is off: these are the plans the epoch runs.

RULES = {"host000.example.org": ["/p/alpha", "/p/eta"], "host001.example.org": ["/p/beta"]}
RAW = gen_cdx_multihost(48, n_hosts=6, seed=5)
CHECKPOINT = [r[0] for r in RAW[::4]]
MODES = ("broadcast", "cogroup", "exact")

# Exchanges (shuffle and broadcast) each captured plan holds, as
# measured when these audits were written, over both epochs of every
# probe mode. A cached input (the probed frontier, the page frame)
# counts where it is built, not again in each reader; the robots gate
# reads J1 uncached, so its count includes J1's.
MAX_EXCHANGES = {
    "frontier": 0,
    "j1": {"broadcast": 1, "cogroup": 5, "exact": 1},
    "robots_gate": {"broadcast": 3, "cogroup": 7, "exact": 3},
    "page_in": 3,
    "member:lineage": 1,
    "member:bloom": 1,
    "member:frontier": 1,
    "member:docs_raw": 0,
    "member:url_seen": 0,
    "member:processed": 0,
    "member:assets_raw": 0,
    "member:html_raw": 0,
    "member:images": 0,
    "member:metrics": 0,
}


def _tree(jplan) -> tuple:
    """(node line, [child trees]) of a physical plan, as its explain
    string prints it: codegen wrappers are skipped, and a cached
    relation's plan is not walked into."""
    kids = [jplan.children().apply(i) for i in range(jplan.children().size())]
    if jplan.nodeName().startswith("WholeStageCodegen") or jplan.nodeName() == "InputAdapter":
        return _tree(kids[0])
    return jplan.verboseString(100), [_tree(k) for k in kids]


def _nodes(tree):
    yield tree
    for kid in tree[1]:
        yield from _nodes(kid)


def _executed(df) -> tuple:
    plan = df._jdf.queryExecution().executedPlan()
    return _tree(plan), plan.toString()


def _crawl(spark, root, cfg, into=None, checkpoint=True, **run):
    """Run a robots-enabled crawl; with ``into``, append one
    {"mode", plan key: (tree, text)} dict per epoch."""
    store = StateStore(root, spark)
    if store.last_epoch < 0:
        robots = spark.createDataFrame(
            [(h, d, 1.5, 0) for h, d in RULES.items()],
            "host string, disallow array<string>, crawl_delay double, fetched_epoch int",
        )
        m = store.read_manifest()
        m["tables"]["robots"] = [store.stage("robots", -1, robots)]
        store._write_manifest(m)
    plan = crawl.CrawlPlan(spark, store, cfg)
    if checkpoint:
        plan.seed_checkpoint(spark.createDataFrame(pd.DataFrame({"url": CHECKPOINT})))
    if into is None:
        return plan.run(cdx_dataframe(spark, RAW), **run)
    probe, gate = crawl.unseen_with_bloom_state, robots_mod.apply_robots_gate
    page_pass, packed = crawl.page_pass_stage, StateStore.stage_packed

    def probe_w(frontier, *a, **kw):
        unseen, mode = probe(frontier, *a, **kw)
        into.append({"mode": mode, "frontier": _executed(frontier), "j1": _executed(unseen)})
        return unseen, mode

    def gate_w(unseen, robots):
        out = gate(unseen, robots)
        into[-1]["robots_gate"] = _executed(out)
        return out

    def page_pass_w(sched, *a, **kw):
        into[-1]["page_in"] = _executed(sched)
        return page_pass(sched, *a, **kw)

    def packed_w(self, epoch, members, *a, **kw):
        into[-1].update({f"member:{n}": _executed(df) for n, df in members.items()})
        return packed(self, epoch, members, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl, "unseen_with_bloom_state", probe_w)
        mp.setattr(robots_mod, "apply_robots_gate", gate_w)
        mp.setattr(crawl, "page_pass_stage", page_pass_w)
        mp.setattr(StateStore, "stage_packed", packed_w)
        return plan.run(cdx_dataframe(spark, RAW), **run)


@pytest.fixture(scope="module")
def epoch_plans(spark, tmp_path_factory) -> dict[str, list[dict]]:
    """Each epoch's plans per J1 probe mode, always against a non-empty
    url_seen: two epochs probe the seeded checkpoint's sketches by
    broadcast, two more with a zero broadcast budget by cogroup, and a
    resume with changed seen_partitions runs its one detection epoch on
    the exact anti-join."""
    cfg = default_config(
        target_domain="", epoch_seconds=12.0, respect_robots=True, max_retries=2
    )
    root = tmp_path_factory.mktemp("epoch_plans")
    out: dict[str, list[dict]] = {m: [] for m in MODES}
    # explain strings abbreviate a scan's PushedFilters to 100 chars,
    # which cuts the packed frontier's eligible_epoch filter
    meta = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(meta)
    spark.conf.set(meta, "1000")
    try:
        _crawl(spark, str(root / "b"), cfg, out["broadcast"], max_epochs=2)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(seen_mod, "BLOOM_BROADCAST_MAX_BYTES", 0)
            _crawl(spark, str(root / "c"), cfg, out["cogroup"], max_epochs=2)
        _crawl(spark, str(root / "e"), cfg, max_epochs=1)
        resized = dataclasses.replace(cfg, seen_partitions=16)
        _crawl(spark, str(root / "e"), resized, out["exact"], checkpoint=False,
               max_epochs=2, resume=True)
    finally:
        spark.conf.set(meta, old)
    for mode, epochs in out.items():
        assert epochs and all(e["mode"] == mode for e in epochs), (mode, epochs)
    return out


def _captured(epoch_plans, key):
    for mode, epochs in epoch_plans.items():
        for i, e in enumerate(epochs):
            yield f"{mode}/{i}", e[key]


def test_epoch_robots_gate_broadcasts_robots_table(epoch_plans):
    """BASELINE: robots state is broadcast. The gate is a broadcast
    hash join whose build side scans the robots table (its ``disallow``
    column), so the frontier never shuffles for it."""
    for where, (tree, text) in _captured(epoch_plans, "robots_gate"):
        builds = []
        for line, kids in _nodes(tree):
            if "BroadcastHashJoin" in line and "LeftOuter" in line:
                builds.append(kids[1] if "BuildRight" in line else kids[0])
        assert builds, (where, text)
        assert any(
            re.search(r"Scan parquet .*\[host#\d+,disallow#\d+", line)
            for b in builds for line, _ in _nodes(b)
        ), (where, text)


def test_epoch_frontier_filter_reaches_scan(epoch_plans):
    """``eligible_epoch <= epoch`` is pushed into the frontier's
    parquet scan."""
    for where, (tree, text) in _captured(epoch_plans, "frontier"):
        scans = [line for line, _ in _nodes(tree) if "Scan parquet" in line]
        assert any("LessThanOrEqual(eligible_epoch," in s for s in scans), (where, text)


def test_epoch_lineage_aggregates_before_exchange(epoch_plans):
    """The lineage member's groupBy(host, partition_id) runs a partial
    aggregate on the map side, below its one hash exchange."""
    for where, (tree, text) in _captured(epoch_plans, "member:lineage"):
        assert any(
            re.match(r"Exchange hashpartitioning\(host#\d+, partition_id#\d+", line)
            and re.search(r"HashAggregate\(keys=\[host#\d+, partition_id#\d+\], "
                          r"functions=\[partial_count", kids[0][0])
            for line, kids in _nodes(tree)
        ), (where, text)


@pytest.mark.parametrize("mode", MODES)
def test_epoch_j1_is_left_anti(epoch_plans, mode):
    """J1 probes the seen set with a LeftAnti join in every probe mode,
    and the join's right side reads url_seen from parquet. No Python
    UDF runs on that side: the Bloom probe's predicate stays on the
    frontier side rather than being inferred onto the seen rows, which
    would run the UDF over all of url_seen every epoch."""
    for i, e in enumerate(epoch_plans[mode]):
        tree, text = e["j1"]
        anti = [kids for line, kids in _nodes(tree) if "Join" in line and " LeftAnti" in line]
        assert anti, (mode, i, text)
        for kids in anti:
            right = [line for line, _ in _nodes(kids[1])]
            assert any("Scan parquet" in line for line in right), (mode, i, text)
            assert not any("ArrowEvalPython" in line for line in right), (mode, i, text)


def test_epoch_page_pass_partitioned_by_url(epoch_plans):
    """BASELINE: the frontier is hash-partitioned by URL. The page
    pass's input is an exchange on url."""
    for where, (tree, text) in _captured(epoch_plans, "page_in"):
        assert re.match(r"Exchange hashpartitioning\(url#\d+", tree[0]), (where, text)


def test_epoch_plans_no_cartesian_and_bounded_exchanges(epoch_plans):
    """No captured plan is a cartesian product or a nested-loop join,
    and no plan adds more exchanges than it did when audited."""
    seen = set()
    for mode, epochs in epoch_plans.items():
        for i, e in enumerate(epochs):
            for key, (tree, text) in ((k, v) for k, v in e.items() if k != "mode"):
                seen.add(key)
                assert "CartesianProduct" not in text, (mode, i, key)
                assert "BroadcastNestedLoopJoin" not in text, (mode, i, key)
                n = sum(
                    bool(re.match(r"(Broadcast|Reused)?Exchange ", line))
                    for line, _ in _nodes(tree)
                )
                bound = MAX_EXCHANGES[key]
                bound = bound[mode] if isinstance(bound, dict) else bound
                assert n <= bound, (mode, i, key, n, text)
    assert seen == set(MAX_EXCHANGES)


# ---- checked queries ----------------------------------------------------

def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema carries only the 3 needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema and "l_orderkey" in read_schema


def test_scalar_chain_stays_codegen(spark):
    q = entry_mod.queries()["sanitize_docs"](spark, SF)
    plan = _plan(q)
    assert "codegen id" in plan  # whole-stage codegen span
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_query_broadcasts(spark):
    q = entry_mod.queries()["ann_bruteforce"](spark, SF)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_neardup_lsh_no_cartesian(spark):
    """The CHECKED near-dup path must be bucket-blocked: candidate
    pairs form via an equi-join on (table, bucket) — never a
    cartesian/BNLJ over the corpus."""
    q = entry_mod.queries()["embedding_neardup_lsh"](spark, SF)
    plan = _plan(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_stratified_sample_stays_scan_side(spark):
    """Hash-bucket sampling is a projection + filter — no shuffle, no
    Python, whole-stage codegen."""
    q = entry_mod.queries()["stratified_sample"](spark, SF)
    plan = _plan(q)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "codegen id" in plan


def test_global_topk_is_take_ordered(spark):
    """Global top-k must compile to TakeOrderedAndProject
    (per-partition top-k + merge), not a single-partition global
    sort window."""
    plan = _plan(entry_mod.entry(spark))
    assert "TakeOrderedAndProject" in plan


def test_sequence_packing_single_shuffle(spark):
    """The packer must cost exactly ONE exchange (the shard hash
    partitioning feeding applyInPandas); token counts ride the scan
    projection, never a second shuffle."""
    q = entry_mod.queries()["sequence_packing"](spark, SF)
    # formatted explain prints each node twice (tree line + detail
    # header) and AQE can append an initial-plan section — count only
    # the tree lines of the final plan
    plan = _plan(q).split("== Initial Plan ==")[0]
    tree = plan.split("\n\n")[0]
    assert len(re.findall(r"- Exchange", tree)) == 1, plan
    assert "FlatMapGroupsInPandas" in plan


def test_ann_bruteforce_rank_is_prereduced(spark):
    """The brute-force final rank must be distributed: a per-partition
    top-k (MapInPandas over the scan partitioning, no extra exchange)
    feeds the per-query window, so no task ever sorts the full scored
    corpus. The MapInPandas node must sit BELOW the window's exchange."""
    q = entry_mod.queries()["ann_bruteforce"](spark, SF)
    plan = _plan(q)
    assert "MapInPandas" in plan and "Window" in plan
    # formatted explain prints root-first: the upstream (leaf-ward)
    # MapInPandas reduction must appear below the downstream Window
    assert plan.index("MapInPandas") > plan.index("Window")


def test_phash_and_ivf_plans_are_blocked_equi_joins(spark):
    """phash_pairs: pigeonhole candidates form via an equi-join on
    (chunk, key) — never a cartesian over images. ann_ivf_topk: the
    probe is an equi-join on cluster id with literal-centroid argmin
    assignment in the projection — no ML stage, no cartesian, no
    Python in the relational path (the cosine/distance folds are
    Catalyst higher-order functions)."""
    for name in ("phash_pairs", "ann_ivf_topk"):
        plan = _plan(entry_mod.queries()[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
            "BroadcastHashJoin" in plan
        ), name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_decontamination_broadcasts_eval_side(spark):
    """The eval shingle set must reach the training scan as a
    broadcast hash join (benchmarks are tiny; shuffling the training
    corpus' exploded shingles would be the scale-killer)."""
    q = entry_mod.queries()["decontamination"](spark, SF)
    plan = _plan(q).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
