"""Politeness scheduling: per-host token-bucket budget as a top-k.

The reference documents ``request_delay_seconds`` as the per-request
politeness delay (README.md:66) but its loop has no per-request sleep
(decorators.py uses it only as retry-backoff base) — the spec pins
the documented semantics (SURVEY §2.10). In the engine an epoch of
length ``epoch_seconds`` grants each host
``floor(epoch_seconds / request_delay_seconds)`` fetch tokens; the
frontier rows chosen are the per-host top-k by
(priority, depth, seq) — i.e. reference crawl order within a host.

Skew (BASELINE.json:6 "explicit salting of skewed hosts"): a hot host
with 10^8 pending rows would funnel one window partition through one
task. Two-phase top-k fixes this: rank within (host, salt) first —
S-way parallel, each emitting at most k survivors — then rank the
<= S*k survivors per host. Correct because the global per-host top-k
is contained in the union of per-salt top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def per_host_topk(
    frontier: DataFrame,
    k: int,
    salt_buckets: int = 8,
    host_col: str = "host",
    order_cols: tuple[str, ...] = ("priority", "depth", "seq"),
    budget_col: str | None = None,
) -> DataFrame:
    """Select <= k rows per host, ordered by order_cols (ascending).
    Returns the selected rows with their within-host rank as
    ``host_rank`` (1-based). Deterministic: order_cols must be a total
    order within a host (seq is unique).

    ``budget_col`` names a per-row budget column the rows already carry
    — the epoch's robots crawl_delay-derived token count — that
    overrides k for its host (null = k); it is dropped from the output.
    The salted pre-pass still caps at k, so budgets above k are clamped
    to k by construction."""
    order = [F.asc(c) for c in order_cols]
    if salt_buckets > 1:
        salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*order)
        pre = (
            frontier.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= k)
            .drop("__r1")
        )
    else:
        pre = frontier
    w2 = Window.partitionBy(host_col).orderBy(*order)
    ranked = pre.withColumn("host_rank", F.row_number().over(w2))
    if budget_col is not None:
        cap = F.least(F.coalesce(F.col(budget_col), F.lit(k)), F.lit(k))
        return ranked.filter(F.col("host_rank") <= cap).drop(budget_col)
    return ranked.filter(F.col("host_rank") <= k)


def pace_slot_col(delay_seconds: float, rank_col: str = "host_rank"):
    """Politeness pace CALENDAR (intra-epoch rate bound): request
    number r to a host fires at absolute time
    epoch_start + (r-1)*delay. Ranks are dense and unique per host
    (per_host_topk's row_number), so when tasks fire on schedule any
    two same-host requests are >= delay apart in ANY partition layout
    — pacing needs no same-host co-location in the common case. A
    straggler task can compress a cross-partition same-host gap by at
    most its lateness; the pacer additionally enforces a per-host
    floor WITHIN its partition even when late
    (fetch_shim.politeness_pacer), and strict deployments set
    EngineConfig.fetch_colocate_hosts to make that floor a global
    guarantee.

    Default is deliberately NOT per-partition serialization: the
    reference's whole workload is a single host (target_domain), so
    host-keyed co-location would funnel the entire fetch stage through
    one task; the calendar keeps url-hash scatter (full parallelism
    across hosts AND within a host's budget) while bounding the
    per-request rate. The per-epoch budget floor(epoch_seconds/delay)
    guarantees every slot fits inside the epoch."""
    return (F.col(rank_col) - 1).cast("double") * F.lit(float(delay_seconds))
