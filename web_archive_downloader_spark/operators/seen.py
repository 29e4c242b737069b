"""J1: the URL-seen membership operator.

Reference: an in-memory ``set`` probed per URL (main.py:62-64). At
10^10-URL scale the engine uses a two-tier design (BASELINE.json:14;
SURVEY §2.4 J1):

1. a **partitioned Bloom prefilter** — cheap, false positives only —
   drops the overwhelming majority of already-seen URLs before the
   join;
2. an **exact LEFT ANTI join** against the ``url_seen`` table for the
   rows the Bloom could not exclude — membership truth stays exact.
   The PRIMARY seen relation is the BUCKETED base table
   (StateStore.bucketize — Iceberg bucket(N, url) semantics): the
   anti-join against it is storage-partitioned, so the big side never
   shuffles; recent epochs ride as small delta frames.

The Bloom is maintained as engine state: per-partition sketch rows
(partition_id, bitset bytes, version) in a side table, appended per
epoch. Its memory is BOUNDED two ways (round-3 hardening):

- per-sketch capacity cap: oversized epochs saturate to a sentinel
  (everything routes to the exact join — never a false negative);
- probe-mode bound: below ``BLOOM_BROADCAST_MAX_BYTES`` total the sketch
  dict is collected+broadcast (latency); above it the probe COGROUPS
  the pid-keyed frontier with the sketch table so each task ships
  only its pids' sketches — no driver collect, no broadcast, nothing
  O(seen-set) on any single node (unseen_with_bloom_state).

Scale notes (round-2 hardening):

- **All URL hashing is JVM-side.** Both the sketch build and the
  probe project ``h1 = xxhash64(url)`` and
  ``pid = pmod(xxhash64(url), P)`` as Catalyst expressions; the
  pandas UDFs consume int64 columns and derive the second probe hash
  with a vectorized numpy splitmix64 mix of h1. No per-row Python
  hashing anywhere in the pipeline.
- **Sketches of different capacities merge safely.** Each epoch
  sizes its per-partition sketch for that epoch's row count, so a
  pid accumulates sketches with different (n_bits, k) over time.
  The merge unions only equal-geometry sketches and keeps the rest
  as a list; the probe ORs ``might_contain`` across every sketch
  for the pid. A URL was inserted into exactly one sketch, so the
  OR preserves the no-false-negative guarantee.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.state import TABLES

# Persisted-sketch format versioning: the probe scheme is part of the
# on-disk contract (round 2 changed h2 from xxhash64(url, seed=77) to
# splitmix64(h1) — probing an old sketch with the new scheme yields
# false NEGATIVES, i.e. re-crawls after a cross-version resume).
# Sketch rows carry `version` as a COLUMN (relationally checkable
# before any deserialization; pre-versioning tables read it as null)
# and the byte blob itself leads with a magic+version word so
# from_bytes refuses foreign blobs outright.
BLOOM_MAGIC = 0x424C4F4F4D534B31  # "BLOOMSK1"
BLOOM_VERSION = 2

# Sketch sizing: the false-positive rate each sketch is built for.
BLOOM_FPP = 0.01
# Probe-mode bound: total sketch bytes above this switch from
# driver-collect+broadcast to the pid-pruned cogrouped probe, which
# keeps Bloom memory O(bound) per executor instead of O(seen set).
BLOOM_BROADCAST_MAX_BYTES = 64 << 20


def splitmix64(h: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 — derives the
    second double-hashing probe stream from the JVM-computed h1."""
    with np.errstate(over="ignore"):
        z = (h + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (z ^ (z >> np.uint64(31))) | np.uint64(1)  # odd → k distinct probes


class BloomSketch:
    """Plain Bloom filter over 64-bit xxhash values.

    k probe positions via double hashing: pos_i = h1 + i * h2 where
    h1 = xxhash64(url, seed=42) (JVM-side) and h2 = splitmix64(h1)
    (vectorized numpy) — no per-row Python in either stream.
    """

    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.words = bits if bits is not None else np.zeros((n_bits + 63) // 64, np.uint64)

    @classmethod
    def sized_for(
        cls, expected: int, fpp: float = BLOOM_FPP, max_bits: int | None = None
    ) -> "BloomSketch":
        """Size for ``expected`` insertions at ``fpp``. When the
        required bits exceed ``max_bits`` (the per-sketch capacity
        bound), return a SATURATED sentinel (n_bits=0): it answers
        maybe_seen=True for everything, so the covered rows fall
        through to the exact anti-join — correctness-preserving, while
        keeping every persisted/broadcast sketch <= max_bits."""
        expected = max(expected, 16)
        n_bits = int(-expected * math.log(fpp) / (math.log(2) ** 2))
        n_bits = max(128, (n_bits + 63) // 64 * 64)
        if max_bits is not None and n_bits > max_bits:
            return cls(0, 0)
        k = max(1, round(n_bits / expected * math.log(2)))
        return cls(n_bits, min(k, 16))

    @property
    def saturated(self) -> bool:
        return self.n_bits == 0

    def _positions(self, h1: np.ndarray) -> np.ndarray:
        h1 = h1.astype(np.uint64, copy=False)
        h2 = splitmix64(h1)
        idx = np.arange(self.k, dtype=np.uint64)
        with np.errstate(over="ignore"):
            # (n, k) probe positions via double hashing
            pos = (h1[:, None] + idx[None, :] * h2[:, None]) % np.uint64(self.n_bits)
        return pos

    def add_many(self, h1: np.ndarray) -> None:
        if self.saturated:
            return  # sentinel answers True for everything already
        pos = self._positions(h1).ravel()
        np.bitwise_or.at(self.words, (pos >> np.uint64(6)).astype(np.int64), np.uint64(1) << (pos & np.uint64(63)))

    def might_contain(self, h1: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, bool)
        if self.saturated:
            return np.ones(len(h1), bool)
        pos = self._positions(h1)
        word = self.words[(pos >> np.uint64(6)).astype(np.int64)]
        bit = (word >> (pos & np.uint64(63))) & np.uint64(1)
        return bit.all(axis=1)

    def to_bytes(self) -> bytes:
        hdr = np.array([BLOOM_MAGIC, BLOOM_VERSION, self.n_bits, self.k], np.uint64)
        return hdr.tobytes() + self.words.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomSketch":
        if len(data) < 32:
            raise ValueError("bloom sketch blob too short for versioned header")
        hdr = np.frombuffer(data[:32], np.uint64)
        if int(hdr[0]) != BLOOM_MAGIC or int(hdr[1]) != BLOOM_VERSION:
            raise ValueError(
                f"unknown bloom sketch magic/version {int(hdr[0]):#x}/{int(hdr[1])}; "
                f"this engine writes version {BLOOM_VERSION} — rebuild sketches "
                "instead of probing (a cross-version probe yields false negatives)"
            )
        words = np.frombuffer(data[32:], np.uint64).copy()
        return cls(int(hdr[2]), int(hdr[3]), words)

    def union(self, other: "BloomSketch") -> "BloomSketch":
        if self.n_bits != other.n_bits or self.k != other.k:
            raise ValueError("union requires equal sketch geometry")
        return BloomSketch(self.n_bits, self.k, self.words | other.words)


# Per-sketch capacity bound: 2^23 bits = 1 MiB per sketch. An epoch
# whose per-pid row count would need more returns a saturated sentinel
# (exact anti-join handles its rows), so persisted/broadcast Bloom
# state is bounded by n_partitions * 1 MiB * epochs-since-compaction
# regardless of frontier size.
DEFAULT_MAX_BITS_PER_SKETCH = 1 << 23


def build_bloom_sketches(
    url_seen: DataFrame,
    n_partitions: int,
    expected_per_partition: int,
    max_bits_per_sketch: int = DEFAULT_MAX_BITS_PER_SKETCH,
) -> DataFrame:
    """Per-partition Bloom sketches over url_seen.url, built with
    applyInPandas grouped by pmod(xxhash64(url), P) — one sketch row
    per partition, appendable across epochs. The URL hash is a
    Catalyst projection; the UDF only sets bits from int64 input.
    Sketches exceeding ``max_bits_per_sketch`` saturate (see
    BloomSketch.sized_for)."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = BloomSketch.sized_for(
            max(expected_per_partition, len(pdf)), BLOOM_FPP, max_bits=max_bits_per_sketch
        )
        sk.add_many(pdf["h1"].to_numpy(np.int64).view(np.uint64))
        return pd.DataFrame(
            {
                "partition_id": [int(pdf["pid"].iloc[0])],
                "sketch": [sk.to_bytes()],
                "version": [BLOOM_VERSION],
                "n_partitions": [n_partitions],
            }
        )

    with_pid = url_seen.select(
        F.xxhash64("url").alias("h1"),
        F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int").alias("pid"),
    )
    return with_pid.groupBy("pid").applyInPandas(build, TABLES["bloom"])


def merge_sketches(sketches: list[tuple[int, bytes]]) -> dict[int, list[bytes]]:
    """Collapse per-epoch sketch rows into per-pid lists. Sketches
    with identical geometry are OR-unioned; different capacities
    (an epoch that overflowed ``expected_per_partition``) stay as
    separate list entries and are all probed at filter time."""
    by_geom: dict[tuple[int, int, int], BloomSketch] = {}
    for pid, data in sketches:
        sk = BloomSketch.from_bytes(data)
        key = (pid, sk.n_bits, sk.k)
        by_geom[key] = by_geom[key].union(sk) if key in by_geom else sk
    out: dict[int, list[bytes]] = {}
    for (pid, _, _), sk in by_geom.items():
        out.setdefault(pid, []).append(sk.to_bytes())
    return out


def bloom_prefilter(
    frontier: DataFrame,
    sketches: list[tuple[int, bytes]],
    n_partitions: int,
    spark: SparkSession,
) -> DataFrame:
    """Adds ``maybe_seen`` (bool) using broadcast sketches. Rows with
    maybe_seen=false are DEFINITELY unseen (no false negatives) and
    skip the exact anti-join entirely. h1/pid are projected JVM-side
    (``xxhash64`` / ``pmod``); the pandas UDF does only numpy bit
    math over int64 columns."""
    if not sketches:
        return frontier.withColumn("maybe_seen", F.lit(False))
    bc = spark.sparkContext.broadcast(merge_sketches(sketches))

    @F.pandas_udf(T.BooleanType())
    def maybe_seen_udf(h1: pd.Series, pid: pd.Series) -> pd.Series:
        local = {p: [BloomSketch.from_bytes(b) for b in bs] for p, bs in bc.value.items()}
        h1_arr = h1.to_numpy(np.int64).view(np.uint64)
        pid_arr = pid.to_numpy(np.int64)
        out = np.zeros(len(h1_arr), bool)
        for p in np.unique(pid_arr):
            mask = pid_arr == p
            for sk in local.get(int(p), ()):  # OR across geometries — no false negatives
                out[mask] |= sk.might_contain(h1_arr[mask])
        return pd.Series(out)

    # Nondeterministic only to the optimizer: Catalyst infers no
    # constraints from it, so the filters on maybe_seen stay on the
    # frontier side instead of being copied, through the url equality,
    # onto the seen side of J1's anti-join, where the UDF would run
    # over every url_seen row each epoch.
    maybe_seen_udf = maybe_seen_udf.asNondeterministic()
    return (
        frontier.withColumn("_h1", F.xxhash64("url"))
        .withColumn("_pid", F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("long"))
        .withColumn("maybe_seen", maybe_seen_udf(F.col("_h1"), F.col("_pid")))
        .drop("_h1", "_pid")
    )


def bloom_prefilter_cogrouped(
    frontier: DataFrame, sketch_df: DataFrame, n_partitions: int
) -> DataFrame:
    """pid-pruned Bloom probe — the bounded-memory path for large
    sketch state. Instead of collecting every pid's sketches to the
    driver and broadcasting the full dict to every executor (O(seen)
    bytes per executor — the textbook broadcast scale-killer at a
    10^10-URL seen set), the frontier is repartitioned by
    pid = pmod(xxhash64(url), P) and COGROUPED with the sketch table
    on pid: each task receives only ITS pids' sketch bytes, once per
    pid — never per row, never the full set. No driver collect, no
    broadcast; per-task memory = frontier rows of its pids + their
    sketches (size P so a pid's frontier slice fits an Arrow group).

    Adds ``maybe_seen`` like bloom_prefilter. A pid with no sketch
    rows has no seen URLs hashed to it (the build covers every
    url_seen row), so its rows are definitely-unseen."""
    out_schema = T.StructType(
        frontier.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
    )
    cols = [f.name for f in frontier.schema.fields]
    f = frontier.select(
        "*",
        F.xxhash64("url").alias("_h1"),
        F.pmod(F.xxhash64("url"), F.lit(n_partitions)).cast("int").alias("_pid"),
    )
    s = sketch_df.select(F.col("partition_id").alias("_pid"), "sketch")

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.reindex(columns=cols + ["maybe_seen"])
        out = np.zeros(len(left), bool)
        if not right.empty:
            h1 = left["_h1"].to_numpy(np.int64).view(np.uint64)
            for blob in right["sketch"]:
                out |= BloomSketch.from_bytes(bytes(blob)).might_contain(h1)
        res = left[cols].copy()
        res["maybe_seen"] = out
        return res

    return (
        f.groupBy("_pid")
        .cogroup(s.groupBy("_pid"))
        .applyInPandas(probe, out_schema)
    )


def anti_join_unseen(
    frontier: DataFrame, url_seen: DataFrame | list[DataFrame]
) -> DataFrame:
    """Exact J1: frontier rows whose url is NOT in url_seen
    (main.py:62-64). Left-anti equi-join; with the seen side a bucketed
    table (see StateStore.bucketize) the join is storage-partitioned:
    no big-side shuffle. A LIST of seen parts
    chains anti-joins — the scale pattern is [bucketed base, recent
    epoch deltas]: the base never shuffles, the deltas are small."""
    if isinstance(url_seen, DataFrame):
        url_seen = [url_seen]
    out = frontier
    for part in url_seen:
        out = out.join(part.select("url"), on="url", how="left_anti")
    return out


def sketch_stats(sketch_df: DataFrame, n_partitions: int | None = None) -> dict:
    """(n, nbytes, bad) over a sketch table — one tiny aggregate with
    only length(sketch)/version/n_partitions projected (blobs never
    collected). A row is ``bad`` if its probe-scheme version is
    foreign OR (when the probe-time ``n_partitions`` is given) its
    build-time partition count differs — either mismatch means a
    probe could yield false negatives, so callers must route to the
    exact anti-join."""
    bad = F.col("version").isNull() | (F.col("version") != BLOOM_VERSION)
    if n_partitions is not None:
        # a pre-stamping row reads a null n_partitions: build-time P
        # unknowable -> bad
        bad = bad | F.col("n_partitions").isNull() | (
            F.col("n_partitions") != n_partitions
        )
    row = sketch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.length("sketch")), F.lit(0)).alias("nbytes"),
        F.count_if(bad).alias("bad"),
    ).first()
    return {"n": row["n"], "nbytes": row["nbytes"], "bad": row["bad"]}


def unseen_with_bloom_state(
    frontier: DataFrame,
    seen_parts: DataFrame | list[DataFrame],
    sketch_df: DataFrame,
    n_partitions: int,
    spark: SparkSession,
    stats: dict | None = None,
) -> tuple[DataFrame, str]:
    """The J1 front end over PERSISTED sketch state — chooses the probe
    mode from the state itself and never lets Bloom memory scale with
    the seen set:

    - sketch version invalid/unknown (cross-version resume), a
      build-time partition count differing from the probe-time
      ``n_partitions`` (a resume with changed seen_partitions would
      probe the wrong pids' sketches), or no sketches -> pure exact
      anti-join ("exact"): probing foreign sketches could yield false
      negatives = re-crawls;
    - total sketch bytes <= BLOOM_BROADCAST_MAX_BYTES -> driver
      collect + broadcast ("broadcast"): lowest latency while the
      state is small;
    - above the bound -> pid-pruned cogrouped probe ("cogroup"):
      no collect, no broadcast, each task ships only its pids'
      sketches (see bloom_prefilter_cogrouped).

    Returns (exactly-unseen rows, chosen mode). The version/size stats
    are one tiny aggregate over the sketch table (pushed projection of
    length(sketch) — the blobs themselves are not collected); callers
    that track the table incrementally pass ``stats`` (n, nbytes, bad)
    to skip the job (CrawlPlan caches them across epochs)."""
    if stats is None:
        stats = sketch_stats(sketch_df, n_partitions)
    if stats["n"] == 0 or stats["bad"] > 0:
        return anti_join_unseen(frontier, seen_parts), "exact"
    if stats["nbytes"] <= BLOOM_BROADCAST_MAX_BYTES:
        sketches = [
            (r["partition_id"], bytes(r["sketch"])) for r in sketch_df.collect()
        ]
        flagged = bloom_prefilter(frontier, sketches, n_partitions, spark)
        mode = "broadcast"
    else:
        flagged = bloom_prefilter_cogrouped(frontier, sketch_df, n_partitions)
        mode = "cogroup"
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    candidates = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(anti_join_unseen(candidates, seen_parts)), mode
