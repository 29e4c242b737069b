"""Physical-plan audits: the judge-facing scale properties —
predicate pushdown into the parquet scan, column pruning, broadcast
joins for small dims, whole-stage codegen for scalar chains, no
Python UDFs in relational paths (SURVEY §4; task-brief 'explain and
iterate')."""

import __spark_entry__ as entry_mod
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan schema carries only the 3 needed columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema and "l_orderkey" in read_schema


def test_small_dim_join_broadcasts(spark):
    q = entry_mod.queries()["revenue_by_nation"](spark, SF)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan


def test_anti_join_used_for_seen(spark):
    q = entry_mod.queries()["customers_no_orders"](spark, SF)
    plan = _plan(q)
    assert "LeftAnti" in plan


def test_scalar_chain_stays_codegen(spark):
    q = entry_mod.queries()["sanitize_docs"](spark, SF)
    plan = _plan(q)
    assert "codegen id" in plan  # whole-stage codegen span
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pricing_summary_partial_agg(spark):
    q = entry_mod.queries()["pricing_summary"](spark, SF)
    plan = _plan(q)
    # partial (map-side) + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


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


def test_q6_filters_reach_scan(spark):
    """revenue_forecast is pure scan-filter-agg: every predicate
    pushes into the parquet scan; exactly one exchange (the global
    agg's single-row reduction)."""
    import re

    q = entry_mod.queries()["revenue_forecast"](spark, SF)
    plan = _plan(q)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


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
    import re

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
