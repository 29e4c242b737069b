"""Snapshot-committed state tables (the crawl's durable state).

Production target is Iceberg: every table is an Iceberg table,
``url_seen`` bucketed by xxhash64(url), one atomic multi-table commit
per epoch, resume = read the last committed snapshot (SURVEY §2.10).
This container has no Iceberg runtime jars, so the same contract is
implemented as a parquet + manifest layout:

    root/<table>/epoch=<k>/part-*.parquet     (data, written first)
    root/__state__/epoch=<k>/part-*.parquet   (a crawl epoch's tables,
                                               packed into one write)
    root/_manifest.json                       (single commit pointer)

A commit writes all tables' new epoch directories, then atomically
replaces the manifest (os.replace on a temp file) recording, per
table, the list of committed epoch dirs. Readers union only
manifest-listed dirs — a job killed mid-epoch leaves orphan data
dirs that are never read, and resume restarts from the previous
manifest: exactly Iceberg's snapshot semantics, minus compaction.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PACKED = "__state__"


# The one declaration of every packed table's schema. Readers of a
# registered table get its schema from here (schema-on-read: a dir
# written by an older layout that lacks a column reads it as nulls, and
# no read infers a schema from parquet footers, which costs a job).
TABLES: dict[str, T.StructType] = {
    "url_seen": T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
    ]),
    "processed": T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("disposition", T.StringType()),
        T.StructField("epoch", T.IntegerType()),
    ]),
    "lineage": T.StructType([
        T.StructField("host", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("granted", T.LongType()),
        T.StructField("epoch", T.IntegerType()),
    ]),
    "metrics": T.StructType([
        T.StructField("epoch", T.IntegerType()),
        T.StructField("metric", T.StringType()),
        T.StructField("value", T.LongType()),
    ]),
    "bloom": T.StructType([
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("sketch", T.BinaryType()),
        # probe-scheme version; pre-versioning dirs read it as null,
        # which disables Bloom routing (operators/seen.py)
        T.StructField("version", T.IntegerType()),
        # the partition count the sketch was BUILT with: pid =
        # pmod(xxhash64(url), n_partitions) decides which rows a sketch
        # covers, so a probe with another P would read the wrong pids'
        # sketches (false negatives, re-crawls); a mismatch routes the
        # probe to the exact anti-join (sketch_stats)
        T.StructField("n_partitions", T.IntegerType()),
    ]),
    "docs_raw": T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("via", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("content_html", T.StringType()),
        T.StructField("epoch", T.IntegerType()),
    ]),
    "html_raw": T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("title", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("epoch", T.IntegerType()),
    ]),
    "assets_raw": T.StructType([
        T.StructField("page_url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("asset_url", T.StringType()),
        T.StructField("asset_pos", T.IntegerType()),
        T.StructField("nbytes", T.IntegerType()),
        T.StructField("epoch", T.IntegerType()),
    ]),
    "images": T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]),
    "frontier": T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("seq", T.LongType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("eligible_epoch", T.IntegerType()),
    ]),
}


def union_schema(members: dict[str, T.StructType]) -> T.StructType:
    """The packed write's sparse union: a ``_table`` discriminator,
    then every member column once, in order of first appearance.
    Raises when two members give one column name two types, since one
    packed column cannot hold both."""
    fields = {"_table": (T.StructField("_table", T.StringType()), None)}
    for table, schema in members.items():
        for f in schema.fields:
            seen, owner = fields.setdefault(f.name, (f, table))
            if seen.dataType != f.dataType:
                raise ValueError(
                    f"packed column {f.name}: {owner} declares it "
                    f"{seen.dataType.simpleString()}, {table} {f.dataType.simpleString()}"
                )
    return T.StructType([f for f, _ in fields.values()])


# Every per-epoch output is staged as ONE parquet write with a `_table`
# discriminator over this union: the small state tables (url_seen /
# processed / lineage / metrics / bloom), the payload tables (docs_raw /
# html_raw / assets_raw / images) and the epoch's frontier replacement.
# One write job per epoch instead of one per table; readers unpack
# transparently (read/read_parts/read_latest_only), so consumers are
# layout-agnostic and still union the per-table dirs of stores written
# before the payload joined the pack. This mirrors a multi-table
# Iceberg transaction: one commit, several logical tables.
_PACKED_SCHEMA = union_schema(TABLES)

# Members that compaction does NOT carry into the merged dir: payload
# rows stay where their epoch wrote them (rewriting crawled bytes at
# every compaction would dwarf the listing cost it saves), and a
# frontier is replaced every epoch, so only the manifest's latest
# pointer is ever read. Compaction retires the merged epoch dirs to
# the manifest's ``packed_payload`` list, which payload reads union.
_UNCOMPACTED = ("docs_raw", "html_raw", "assets_raw", "images", "frontier")
_PAYLOAD_DIRS = "packed_payload"


class StateStore:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)
        # catalog-table prefix unique to this store root (the Spark
        # catalog is session-global; concurrent stores must not share
        # bucketed-table names)
        import hashlib

        self._ident = hashlib.md5(os.path.abspath(root).encode()).hexdigest()[:10]
        # one packed scan per dir list, shared by every member read of
        # it (see _packed_scan); dropped whenever the store writes
        self._packed_scans: dict[tuple[str, ...], DataFrame] = {}

    # --- manifest ---
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"epoch": -1, "tables": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        self._packed_scans.clear()
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    @property
    def last_epoch(self) -> int:
        return self.read_manifest()["epoch"]

    # --- staged writes + atomic multi-table commit ---
    def stage(self, table: str, epoch: int, df: DataFrame, partition_by: list[str] | None = None) -> str:
        """Write one table's epoch directory (not yet visible)."""
        path = os.path.join(self.root, table, f"epoch={epoch}")
        self._packed_scans.clear()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return path

    def stage_packed(
        self, epoch: int, dfs: dict[str, DataFrame], coalesce_to: int | None = None
    ) -> str:
        """Stage several PACKED member tables as one write (one job,
        one epoch dir) — see the module-level packed-state note. Each
        member projects onto the sparse union schema with a `_table`
        discriminator; union-schema columns a member's REGISTRY entry
        lacks ride as nulls. Each member df must carry exactly its
        registered columns — silently null-filling a missing member
        column would mask schema drift (e.g. a renamed lineage field)
        as all-null state rows instead of failing the write."""
        parts = []
        for name, df in dfs.items():
            if name not in TABLES:
                raise ValueError(f"{name} is not a packed state table")
            have = set(df.columns)
            want = set(TABLES[name].names)
            if have != want:
                raise ValueError(
                    f"packed member {name}: columns {sorted(have)} do not "
                    f"match the registered schema {sorted(want)} "
                    "(missing: %s, unexpected: %s)"
                    % (sorted(want - have), sorted(have - want))
                )
            # SQL strings: one py4j call per member, not one per column
            cols = [f"'{name}' AS _table"] + [
                f"CAST({f.name if f.name in have else 'NULL'} AS {f.dataType.simpleString()}) AS {f.name}"
                for f in _PACKED_SCHEMA.fields[1:]
            ]
            parts.append(df.selectExpr(*cols))
        packed = parts[0]
        for p in parts[1:]:
            packed = packed.union(p)  # same projection order, so positional
        if coalesce_to:
            # repartition, NOT coalesce: coalesce propagates its
            # narrowness up every shuffle-free member plan, so the
            # bloom/processed/lineage member COMPUTE would run on
            # coalesce_to tasks; the exchange of these tiny state rows
            # is cheaper than serializing the members' upstream stages
            packed = packed.repartition(coalesce_to)
        return self.stage(PACKED, epoch, packed)

    def _packed_member(self, table: str, manifest: dict) -> DataFrame | None:
        """Unpack one member's rows from the packed dirs (None if no
        packed dirs exist). Rows at or below the member's floor are
        superseded (merged into the bucketed base by bucketize) and
        filtered out — a pushed-down predicate, no rewrite needed."""
        paths = manifest["tables"].get(PACKED, [])
        if table in _UNCOMPACTED:
            paths = manifest.get(_PAYLOAD_DIRS, []) + paths
        if not paths:
            return None
        df = self._packed_scan(paths).filter(F.col("_table") == table)
        floor = manifest.get("packed_floor", {}).get(table)
        if floor is not None:
            df = df.filter(F.col("epoch") > floor)
        return df.select(*TABLES[table].names)

    def _packed_scan(self, paths: list[str]) -> DataFrame:
        """The scan of a packed dir list, shared by every member read
        over it. Sharing matters for cached plans that read two members
        (finalize_outputs reads docs_raw and assets_raw): when a write
        rewrites a dir, Spark refreshes the file index of only the
        FIRST relation over that path in each cached plan
        (CacheManager.recacheByPath), so a second, separate scan of the
        same dir would keep listing the replaced files."""
        key = tuple(paths)
        if key not in self._packed_scans:
            self._packed_scans[key] = self.spark.read.schema(_PACKED_SCHEMA).parquet(*paths)
        return self._packed_scans[key]

    def commit(self, epoch: int, staged: dict[str, str]) -> None:
        """Atomically publish all staged epoch dirs as epoch's snapshot."""
        manifest = self.read_manifest()
        if epoch <= manifest["epoch"]:
            raise ValueError(f"epoch {epoch} already committed (at {manifest['epoch']})")
        for table, path in staged.items():
            manifest["tables"].setdefault(table, []).append(path)
        manifest["epoch"] = epoch
        self._write_manifest(manifest)

    # --- reads (committed snapshots only) ---
    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        bases, delta = self.read_parts(table, schema)
        out = None
        for b in bases:  # oldest generation first, delta last
            out = b if out is None else out.unionByName(b)
        return delta if out is None else out.unionByName(delta)

    def _bucketed_gens(self, manifest: dict, table: str) -> list[dict]:
        """The table's bucketed GENERATION chain (oldest first). Each
        bucketize call appends one O(delta) generation; a merge
        collapses the chain to one. Legacy manifests stored a single
        dict — read it as a one-element chain."""
        ptr = manifest.get("bucketed", {}).get(table)
        if ptr is None:
            return []
        return [ptr] if isinstance(ptr, dict) else list(ptr)

    def read_parts(
        self, table: str, schema: T.StructType | None = None
    ) -> tuple[list[DataFrame], DataFrame]:
        """(bucketed base generations, delta rows). The SCALE read:
        callers that join against the table keep each generation
        separate so every bucketed scan reaches its join without an
        Exchange (a union would erase the bucket distribution); `read`
        is the convenience union for full-relation consumers. Delta
        rows union the table's own epoch dirs with its packed-state
        rows."""
        manifest = self.read_manifest()
        bases = [
            self.spark.table(g["name"])
            for g in self._bucketed_gens(manifest, table)
        ]
        if schema is None:
            schema = TABLES.get(table)
        parts = []
        paths = manifest["tables"].get(table, [])
        if paths:
            parts.append(self._scan_dirs(paths, schema))
        if table in TABLES:
            packed = self._packed_member(table, manifest)
            if packed is not None:
                parts.append(packed)
        if not parts:
            if schema is None:
                if not bases:
                    raise ValueError(f"table {table} empty and no schema given")
                schema = bases[0].schema
            return bases, self.spark.createDataFrame([], schema)
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        return bases, delta

    def _scan_dirs(self, paths: list[str], schema: T.StructType | None) -> DataFrame:
        """A scan of a table's own (unpacked) dirs with the given
        schema (schema-on-read): dirs written by an OLDER layout that
        lack a newly added column (e.g. bloom's `version`) read it as
        nulls instead of crashing the consumer with UNRESOLVED_COLUMN,
        and no footer-inference job runs. Only a table outside
        ``TABLES`` read without a schema falls back to inference."""
        reader = self.spark.read.schema(schema) if schema is not None else self.spark.read
        return reader.parquet(*paths)

    def bucketize(
        self, table: str, buckets: int = 32, key: str = "url", merge_at: int = 4
    ) -> str:
        """INCREMENTAL bucketize: fold the table's accumulated DELTA
        rows (epoch dirs + packed rows above the floor) into a NEW
        bucketed catalog generation (hash-bucketed + sorted by
        ``key``) and atomically append it to the manifest's generation
        chain, clearing the merged epoch dirs. This is Iceberg's
        incremental rewrite_data_files with a bucket(N, key) partition
        transform: each call writes O(delta) rows — NEVER a rewrite of
        the full (10^10-row at target scale) base — and an anti-join
        against every generation is storage-partitioned (the big side
        never shuffles; anti_join_unseen chains the generations).

        The chain is kept short: once it would exceed ``merge_at``
        generations (or an incompatible buckets/key is requested), ALL
        generations + delta merge into one table — the rare, amortized
        O(table) compaction, every-merge_at-th call instead of every
        call. Write amplification per row is thus 1 + 1/merge_at
        amortized vs the old rewrite-everything's O(chain length).

        Crash-safe: generation tables are written under fresh names;
        the manifest swap (os.replace) is the only commit point; a
        crash before it leaves an orphan catalog table and the old
        manifest — readers never see a partial state. Rollback past
        the merge point is refused (compaction_floor), matching
        snapshot-expiry semantics. Returns the newest table name."""
        manifest = self.read_manifest()
        gens = self._bucketed_gens(manifest, table)
        paths = manifest["tables"].get(table, [])
        packed = self._packed_member(table, manifest) if table in TABLES else None
        delta_parts = []
        if paths:
            delta_parts.append(self._scan_dirs(paths, TABLES.get(table)))
        if packed is not None:
            delta_parts.append(packed)
        geometry_mismatch = any(
            g["buckets"] != buckets or g["key"] != key for g in gens
        )
        if not delta_parts:
            if not gens:
                raise ValueError(f"bucketize: table {table} is empty")
            if not geometry_mismatch:
                return gens[-1]["name"]  # nothing new to merge
            # empty delta but the REQUESTED geometry differs from the
            # chain's: a seen_partitions config change must re-bucketize
            # NOW, not silently wait for the next delta-carrying call
            df = None
        else:
            df = delta_parts[0]
            for p in delta_parts[1:]:
                df = df.unionByName(p)
        epoch = manifest["epoch"]
        merging = len(gens) + len(delta_parts[:1]) > merge_at or geometry_mismatch
        if merging:
            for g in gens:
                base = self.spark.table(g["name"])
                df = base if df is None else df.unionByName(base)
        gen_no = 0 if merging else len(gens) + 1
        existing = {g["name"] for g in gens}
        while True:
            name = f"wad_{self._ident}_{table}_b{max(epoch, 0)}g{gen_no}"
            if name not in existing:
                break
            # a geometry-change merge at the same epoch as a prior merge
            # would reuse the prior generation's name — overwriting a
            # table the merge is reading FROM; bump until fresh
            gen_no += 1
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )
        new_gen = {"name": name, "buckets": buckets, "key": key}
        manifest.setdefault("bucketed", {})[table] = (
            [new_gen] if merging else gens + [new_gen]
        )
        manifest["tables"][table] = []
        manifest.setdefault("compaction_floor", {})[table] = epoch
        if table in TABLES:
            # packed rows at or below the floor are now superseded by
            # the base; reads filter them out, compact(PACKED) drops
            # them physically
            manifest.setdefault("packed_floor", {})[table] = epoch
        self._write_manifest(manifest)  # atomic swap
        if merging:
            for g in gens:
                if g["name"] != name:
                    self.spark.sql(f"DROP TABLE IF EXISTS {g['name']}")
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
        return name

    def replace_bloom(self, sketches: DataFrame) -> None:
        """Replace ALL persisted bloom sketch state with ``sketches``
        (the partition-count-change rebuild, round-4 verdict item 3):
        stage the rebuilt sketch rows as a fresh standalone bloom dir,
        rewrite the packed state dirs WITHOUT their old bloom member
        rows, and publish both in one atomic manifest swap — readers
        see either the complete old sketch set or the complete new
        one, never a mix (a mix could pair new-P and old-P sketches,
        re-introducing the false-negative risk the rebuild removes).
        Like compaction, the rewrite forecloses rollback past this
        point (compaction_floor on the packed table)."""
        manifest = self.read_manifest()
        epoch = manifest["epoch"]
        old_bloom = manifest["tables"].get("bloom", [])
        packed_paths = manifest["tables"].get(PACKED, [])

        def _fresh(table: str, stem: str) -> str:
            # never reuse a dir the manifest still references: a
            # same-epoch re-rebuild overwriting a dir it is lazily
            # READING from would clobber the data mid-scan
            taken = set(old_bloom) | set(packed_paths)
            n = 0
            while True:
                suffix = f"{stem}={epoch}" + (f".{n}" if n else "")
                path = os.path.join(self.root, table, suffix)
                if path not in taken:
                    return path
                n += 1

        new_path = _fresh("bloom", "rebuilt")
        sketches.write.mode("overwrite").parquet(new_path)
        new_packed: list[str] = []
        if packed_paths:
            rest = self.spark.read.schema(_PACKED_SCHEMA).parquet(
                *packed_paths
            ).filter(~F.col("_table").isin("bloom", *_UNCOMPACTED))
            # the rewrite doubles as a compaction pass: drop member
            # rows a bucketized base has superseded (same filter
            # compact() applies) instead of carrying them into the
            # single new dir, where the next compact would no-op
            for member, floor in manifest.get("packed_floor", {}).items():
                rest = rest.filter(
                    (F.col("_table") != member) | (F.col("epoch") > floor)
                )
            packed_path = _fresh(PACKED, "rebloom")
            rest.write.mode("overwrite").parquet(packed_path)
            new_packed = [packed_path]
        manifest["tables"]["bloom"] = [new_path]
        dropped = []
        if packed_paths:
            manifest["tables"][PACKED] = new_packed
            manifest.setdefault("compaction_floor", {})[PACKED] = epoch
            dropped = self._retire_packed(manifest, packed_paths)
        self._write_manifest(manifest)  # atomic swap
        for p in old_bloom + dropped:
            shutil.rmtree(p, ignore_errors=True)

    @staticmethod
    def _retire_packed(manifest: dict, paths: list[str]) -> list[str]:
        """After a rewrite merged ``paths``' state rows: keep the epoch
        dirs, whose payload and frontier rows were not merged, on the
        manifest's payload list; return the rewrite outputs among
        ``paths`` (state rows only), which are now safe to delete."""
        kept = [p for p in paths if os.path.basename(p).startswith("epoch=")]
        manifest[_PAYLOAD_DIRS] = manifest.get(_PAYLOAD_DIRS, []) + kept
        return [p for p in paths if p not in kept]

    def read_latest_only(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        """For tables where each epoch REPLACES state (e.g. frontier)."""
        if schema is None:
            schema = TABLES.get(table)
        paths = self.read_manifest()["tables"].get(table, [])
        if not paths:
            if schema is None:
                raise ValueError(f"table {table} empty and no schema given")
            return self.spark.createDataFrame([], schema)
        latest = paths[-1]
        if os.path.basename(os.path.dirname(latest)) == PACKED:
            # the epoch's replacement rode the packed write
            return self._packed_scan([latest]).filter(F.col("_table") == table).select(
                *TABLES[table].names
            )
        return self._scan_dirs([latest], schema)

    def compact(self, table: str) -> int:
        """Snapshot compaction (Iceberg's rewrite_data_files): merge a
        table's accumulated epoch dirs into ONE dir and atomically
        swap the manifest to point at it. Readers before the swap see
        the old dirs; after, the single compacted dir — same rows
        either way (append-only tables only; not for frontier-style
        replace tables, which read_latest_only already bounds).

        At crawl scale this is what keeps url_seen readable: 10^4
        epochs otherwise mean 10^4 directory listings per epoch read.
        Returns the number of epoch dirs collapsed."""
        manifest = self.read_manifest()
        paths = manifest["tables"].get(table, [])
        if len(paths) <= 1:
            return 0
        dropped = paths
        if table == PACKED:
            df = self.spark.read.schema(_PACKED_SCHEMA).parquet(*paths).filter(
                ~F.col("_table").isin(*_UNCOMPACTED)
            )
            dropped = self._retire_packed(manifest, paths)
            # physically drop member rows superseded by a bucketized
            # base (reads already filter them; compaction reclaims)
            for member, floor in manifest.get("packed_floor", {}).items():
                df = df.filter(
                    (F.col("_table") != member) | (F.col("epoch") > floor)
                )
        else:
            df = self._scan_dirs(paths, TABLES.get(table))
        compact_path = os.path.join(
            self.root, table, f"compacted={manifest['epoch']}"
        )
        df.write.mode("overwrite").parquet(compact_path)
        manifest["tables"][table] = [compact_path]
        # like Iceberg snapshot expiry: history before the compaction
        # point is gone — rollback past it must be refused
        manifest.setdefault("compaction_floor", {})[table] = manifest["epoch"]
        self._write_manifest(manifest)  # atomic swap
        for p in dropped:  # now unreferenced
            shutil.rmtree(p, ignore_errors=True)
        return len(paths)

    def append_frontier_ingest(self, path: str, batch_ids: list[int]) -> None:
        """Record a frontier replacement produced by draining streaming
        inbox batches: the new frontier path and the drained batch ids
        commit in ONE atomic manifest swap — a crash beforehand leaves
        an orphan dir and unrecorded batches, re-ingested idempotently
        on retry."""
        manifest = self.read_manifest()
        manifest["tables"].setdefault("frontier", []).append(path)
        ing = manifest.setdefault("ingested_batches", {})
        for b in batch_ids:
            ing[str(b)] = path
        self._write_manifest(manifest)

    def ingested_batches(self) -> set[int]:
        return {int(b) for b in self.read_manifest().get("ingested_batches", {})}

    def truncate_to_epoch(self, epoch: int) -> None:
        """Test helper: roll the manifest back (kill-and-resume tests).
        Refuses to roll back past a compaction point — that history
        was rewritten away (Iceberg snapshot-expiry semantics)."""
        manifest = self.read_manifest()
        for t, floor in manifest.get("compaction_floor", {}).items():
            if epoch < floor:
                raise ValueError(
                    f"cannot truncate {t} to epoch {epoch}: compacted at {floor}"
                )
        manifest["tables"] = {
            t: [
                p for p in ps
                if "epoch=" not in p or int(p.rsplit("epoch=", 1)[1]) <= epoch
            ]
            for t, ps in manifest["tables"].items()
        }
        manifest["tables"] = {t: ps for t, ps in manifest["tables"].items() if ps}
        # inbox batches whose frontier dir was rolled away must be
        # re-ingestable
        kept_frontier = set(manifest["tables"].get("frontier", []))
        manifest["ingested_batches"] = {
            b: p
            for b, p in manifest.get("ingested_batches", {}).items()
            if p in kept_frontier
        }
        manifest["epoch"] = epoch
        self._write_manifest(manifest)

    def destroy(self) -> None:
        manifest = self.read_manifest()
        for table in manifest.get("bucketed", {}):
            for g in self._bucketed_gens(manifest, table):
                try:
                    self.spark.sql(f"DROP TABLE IF EXISTS {g['name']}")
                except Exception:
                    pass
        shutil.rmtree(self.root, ignore_errors=True)
