"""Snapshot-committed state tables (the crawl's durable state).

Production target is Iceberg: every table is an Iceberg table,
``url_seen`` bucketed by xxhash64(url), one atomic multi-table commit
per epoch, resume = read the last committed snapshot (SURVEY §2.10).
This container has no Iceberg runtime jars, so the same contract is
implemented as a parquet + manifest layout:

    root/__state__/epoch=<k>/part-*.parquet      (a crawl epoch's tables,
                                                  packed into one write)
    root/__state__/seed=<k>[.n]/part-*.parquet   (one table's rows committed
                                                  between epochs: the
                                                  checkpoint and frontier
                                                  seeds)
    root/__state__/compacted=<k>[.n]/...         (compaction output)
    root/__state__/bucketed=<k>[.n]/...          (a url_seen generation:
                                                  url_seen's columns only,
                                                  bucketed and sorted by url)
    root/<table>/epoch=<k>/part-*.parquet        (external tables only,
                                                  e.g. robots)
    root/_manifest.json                          (single commit pointer)

Every table registered in ``TABLES`` lives only in the packed dirs,
and every packed file carries the full union schema. A commit writes
its dir first, then atomically replaces the manifest (os.replace on a
temp file) recording, per table, the list of committed dirs that hold
its rows; packed dirs are listed once more under ``__state__`` (for
compaction), url_seen's bucketed generations under ``bucketed``.
Readers union only manifest-listed dirs — a job killed mid-epoch
leaves orphan data dirs that are never read, and resume restarts from
the previous manifest: exactly Iceberg's snapshot semantics. No module
but this one reads or writes the manifest. The session catalog is a
per-process cache rebuilt from the manifest (see _bucketed_scan), so
any process, at any parallelism, resumes from the root alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PACKED = "__state__"


# The one declaration of every packed table's schema. A registered
# table is written only into packed dirs (stage_packed, or the store's
# seed and compaction), each member cast to these types, and every
# read takes its schema from here, so no read infers a schema from
# parquet footers (which costs a job).
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
        # probe-scheme version; a foreign or null version disables
        # Bloom routing (operators/seen.py)
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


# Every packed dir is ONE parquet write with a `_table` discriminator
# over this union: the small state tables (url_seen / processed /
# lineage / metrics / bloom), the payload tables (docs_raw / html_raw /
# assets_raw / images) and the frontier replacement. One write job per
# epoch instead of one per table; readers unpack transparently
# (read/read_parts/read_latest_only). This mirrors a multi-table
# Iceberg transaction: one commit, several logical tables.
_PACKED_SCHEMA = union_schema(TABLES)

# Members that compaction does NOT carry into the merged dir: payload
# rows stay where their epoch wrote them (rewriting crawled bytes at
# every compaction would dwarf the listing cost it saves), and a
# frontier is replaced every epoch, so only the manifest's latest
# pointer is ever read. Their own dir lists keep naming the merged
# epoch and seed dirs.
_UNCOMPACTED = ("docs_raw", "html_raw", "assets_raw", "images", "frontier")

# Bytes per file of a compaction's merged dir, at most.
_COMPACT_FILE_BYTES = 128 << 20


def _pack(dfs: dict[str, DataFrame]) -> DataFrame:
    """Project several member tables onto the sparse union schema, each
    row tagged with its `_table` discriminator and every column cast to
    its registered type; union columns a member lacks ride as nulls.
    Each member df must carry exactly its registered columns — silently
    null-filling a missing member column would mask schema drift (e.g.
    a renamed lineage field) as all-null state rows instead of failing
    the write."""
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
    return packed


def _register(manifest: dict, staged: dict[str, str]) -> None:
    """List each staged dir under its table, so a read lists only the
    dirs that hold the table's rows (the frontier's last dir is the
    live frontier, read_latest_only). A registered table's dir is a
    packed dir, also listed once under ``__state__`` for compaction."""
    tables = manifest["tables"]
    for table, path in staged.items():
        names = [PACKED, table] if table in TABLES else [table]
        for name in names:
            listed = tables.setdefault(name, [])
            if path not in listed:
                listed.append(path)


def _dir_epoch(path: str) -> int:
    """The epoch a dir was committed at, from its name: epoch=3,
    seed=-1.2 and compacted=5 give 3, -1 and 5."""
    return int(os.path.basename(path).split("=", 1)[1].split(".")[0])


def _generation_table(path: str) -> str:
    """The catalog name of the bucketed generation in dir ``path``:
    derived from the dir alone, so every process names it alike and
    two stores never share one."""
    return "url_seen_" + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:16]


class StateStore:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)
        # one scan per packed dir list (see _packed_scan) and per
        # bucketed generation dir; dropped whenever the store writes
        self._scans: dict[tuple[str, ...] | str, DataFrame] = {}
        self._catalog_tables: set[str] = set()  # dropped by destroy
        # one reader for every packed scan: each table reads its own dir
        # list, and a fresh reader costs py4j round trips and JVM objects
        self._packed_reader = spark.read.schema(_PACKED_SCHEMA)

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
        self._scans.clear()
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    @property
    def last_epoch(self) -> int:
        return self.read_manifest()["epoch"]

    @property
    def packed_dirs(self) -> int:
        """How many dirs a packed state read lists (compaction bounds it)."""
        return len(self.read_manifest()["tables"].get(PACKED, []))

    def _fresh_dir(self, name: str) -> str:
        """root/__state__/<name>, suffixed .1, .2, ... past any dir on
        disk: a write never overwrites a dir a reader may still list
        (a compaction at the epoch of an earlier one reads that dir)."""
        path = base = os.path.join(self.root, PACKED, name)
        n = 0
        while os.path.exists(path):
            n += 1
            path = f"{base}.{n}"
        return path

    # --- staged writes + atomic multi-table commit ---
    def stage(self, table: str, epoch: int, df: DataFrame) -> str:
        """Write an external table's epoch directory, or the packed
        write of stage_packed (not yet visible). A registered table
        goes only into packed dirs, where its types are cast to TABLES."""
        if table in TABLES:
            raise ValueError(f"{table} is a packed state table: stage it with stage_packed")
        path = os.path.join(self.root, table, f"epoch={epoch}")
        self._scans.clear()
        df.write.mode("overwrite").parquet(path)
        return path

    def stage_packed(
        self, epoch: int, dfs: dict[str, DataFrame], coalesce_to: int | None = None
    ) -> str:
        """Stage several member tables as one write (one job, one epoch
        dir) — see _pack and the module-level packed-state note."""
        packed = _pack(dfs)
        if coalesce_to:
            # repartition, NOT coalesce: coalesce propagates its
            # narrowness up every shuffle-free member plan, so the
            # bloom/processed/lineage member COMPUTE would run on
            # coalesce_to tasks; the exchange of these tiny state rows
            # is cheaper than serializing the members' upstream stages
            packed = packed.repartition(coalesce_to)
        return self.stage(PACKED, epoch, packed)

    def commit(self, epoch: int, staged: dict[str, str]) -> None:
        """Atomically publish the staged dirs as epoch's snapshot.
        ``staged`` maps each table to the dir holding its new rows: an
        external table's own epoch dir, or the packed dir a registered
        table rode in."""
        manifest = self.read_manifest()
        if epoch <= manifest["epoch"]:
            raise ValueError(f"epoch {epoch} already committed (at {manifest['epoch']})")
        _register(manifest, staged)
        manifest["epoch"] = epoch
        self._write_manifest(manifest)

    def commit_seed(self, dfs: dict[str, DataFrame]) -> None:
        """Commit member rows that arrive between epochs — the
        checkpoint seed and the frontier seed — without advancing the
        epoch: one packed write per member, each to a fresh seed dir
        (so a read of one member never lists another's files), then
        one manifest swap that lists them. A crash before the swap
        leaves orphan dirs that are never read. truncate_to_epoch
        keeps the dirs while it keeps the epoch the seed was committed
        at."""
        manifest = self.read_manifest()
        epoch = manifest["epoch"]
        if any(manifest.get("compaction_floor", {}).get(t) == epoch for t in dfs):
            # its dir would sit at the floor, which hides it from reads
            raise ValueError(f"cannot seed {sorted(dfs)}: bucketized at epoch {epoch}")
        staged = {}
        for table, df in dfs.items():
            staged[table] = self._fresh_dir(f"seed={epoch}")
            _pack({table: df}).write.parquet(staged[table])
        _register(manifest, staged)
        self._write_manifest(manifest)

    def _packed_member(self, table: str, manifest: dict) -> DataFrame | None:
        """Unpack one member's rows from the packed dirs that hold them
        (None if no dir is left to read). A dir committed at or before
        the member's floor holds only rows that bucketize merged into
        the bucketed base, so it is not read for that member."""
        paths = manifest["tables"].get(table, [])
        floor = manifest.get("compaction_floor", {}).get(table)
        if floor is not None:
            paths = [p for p in paths if _dir_epoch(p) > floor]
        if not paths:
            return None
        return self._packed_scan(paths).filter(F.col("_table") == table).select(
            *TABLES[table].names
        )

    def _packed_scan(self, paths: list[str]) -> DataFrame:
        """The scan of a packed dir list, shared by every member read
        over it. Sharing matters for cached plans that read two members
        (finalize_outputs reads docs_raw and assets_raw): when a write
        rewrites a dir, Spark refreshes the file index of only the
        FIRST relation over that path in each cached plan
        (CacheManager.recacheByPath), so a second, separate scan of the
        same dir would keep listing the replaced files."""
        key = tuple(paths)
        if key not in self._scans:
            self._scans[key] = self._packed_reader.parquet(*paths)
        return self._scans[key]

    # --- reads (committed snapshots only) ---
    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        bases, delta = self.read_parts(table, schema)
        out = None
        for b in bases:  # oldest generation first, delta last
            out = b if out is None else out.unionByName(b)
        return delta if out is None else out.unionByName(delta)

    def _bucketed_gens(self, manifest: dict, table: str) -> list[dict]:
        """The table's bucketed generations, oldest first:
        ``{"path", "buckets"}`` entries (see bucketize)."""
        return list(manifest.get("bucketed", {}).get(table, []))

    def _bucketed_scan(self, gen: dict) -> DataFrame:
        """The scan of one bucketed generation. Spark reads a dir as
        bucketed only through a catalog table, so the first read in a
        process registers one over the dir: an external table, whose
        drop leaves the files."""
        path = gen["path"]
        if path not in self._scans:
            name = _generation_table(path)
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in TABLES["url_seen"])
            location = os.path.abspath(path).replace("\\", "\\\\").replace("'", "\\'")
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet CLUSTERED BY "
                f"(url) SORTED BY (url) INTO {gen['buckets']} BUCKETS LOCATION '{location}'"
            )
            self._catalog_tables.add(name)
            self._scans[path] = self.spark.table(name)
        return self._scans[path]

    def read_parts(
        self, table: str, schema: T.StructType | None = None
    ) -> tuple[list[DataFrame], DataFrame]:
        """(bucketed base generations, delta rows). The SCALE read:
        callers that join against the table keep each generation
        separate so every bucketed scan reaches its join without an
        Exchange (a union would erase the bucket distribution); `read`
        is the convenience union for full-relation consumers. A
        registered table's delta is its packed rows, read with its
        TABLES schema; an external table's is its own epoch dirs, read
        with ``schema``."""
        manifest = self.read_manifest()
        bases = [self._bucketed_scan(g) for g in self._bucketed_gens(manifest, table)]
        if table in TABLES:
            schema = TABLES[table]
            delta = self._packed_member(table, manifest)
        elif schema is None:
            raise ValueError(f"external table {table} read without a schema")
        else:
            paths = manifest["tables"].get(table, [])
            delta = self.spark.read.schema(schema).parquet(*paths) if paths else None
        if delta is None:
            delta = self.spark.createDataFrame([], schema)
        return bases, delta

    def bucketize(self, buckets: int = 32, merge_at: int = 4) -> str:
        """INCREMENTAL bucketize (Iceberg's rewrite_data_files with a
        bucket(N, url) transform): fold url_seen's delta rows (packed
        rows above its floor) into a NEW generation, bucketed and
        sorted by url, in a fresh ``bucketed=<epoch>`` dir, appended
        to the manifest's chain. Each call writes O(delta) rows, never
        the full base, and an anti-join against each generation is
        storage-partitioned (the big side never shuffles). Once the
        chain would exceed ``merge_at`` generations, or another bucket
        count is asked for, all of it merges into one generation and
        the merged dirs are swept after the swap. A crash before the
        manifest swap leaves an orphan dir that no read lists; rollback
        past the merge point is refused (compaction_floor). Returns
        the newest generation's dir."""
        manifest = self.read_manifest()
        gens = self._bucketed_gens(manifest, "url_seen")
        df = self._packed_member("url_seen", manifest)
        has_delta = df is not None
        geometry_mismatch = any(g["buckets"] != buckets for g in gens)
        if not has_delta:
            if not gens:
                raise ValueError("bucketize: url_seen is empty")
            if not geometry_mismatch:
                return gens[-1]["path"]  # nothing new to merge
            # a seen_partitions change re-bucketizes now, not at the
            # next call that has a delta
        epoch = manifest["epoch"]
        merging = len(gens) + has_delta > merge_at or geometry_mismatch
        if merging:
            for g in gens:
                base = self._bucketed_scan(g)
                df = base if df is None else df.unionByName(base)
        path = self._fresh_dir(f"bucketed={epoch}")
        name = _generation_table(path)
        # overwrite: a dir an earlier merge swept keeps its catalog name
        df.write.mode("overwrite").bucketBy(buckets, "url").sortBy("url").saveAsTable(
            name, format="parquet", path=os.path.abspath(path)
        )
        self._catalog_tables.add(name)
        new_gen = {"path": path, "buckets": buckets}
        manifest.setdefault("bucketed", {})["url_seen"] = (
            [new_gen] if merging else gens + [new_gen]
        )
        # url_seen's rows in dirs committed up to now are in the
        # generations: reads and compact() skip them there
        manifest.setdefault("compaction_floor", {})["url_seen"] = epoch
        self._write_manifest(manifest)  # atomic swap
        self._sweep(manifest, [g["path"] for g in gens])
        return path

    def read_latest_only(self, table: str) -> DataFrame:
        """For tables where each epoch REPLACES state (the frontier):
        the rows of the last dir the table's own list names."""
        paths = self.read_manifest()["tables"].get(table, [])
        if not paths:
            return self.spark.createDataFrame([], TABLES[table])
        return self._packed_scan(paths[-1:]).filter(F.col("_table") == table).select(
            *TABLES[table].names
        )

    def compact(self, bloom: DataFrame | None = None) -> int:
        """Snapshot compaction (Iceberg's rewrite_data_files): merge
        the state rows of every listed packed dir into ONE fresh dir
        and atomically swap the manifest to list only it. Readers
        before the swap see the old dirs; after, the compacted one —
        same rows either way. Member rows a bucketized base supersedes
        are left out; payload and frontier rows stay where they are.
        At crawl scale this bounds the dir listings of every read.

        ``bloom`` replaces ALL persisted sketch rows (the rebuild after
        a partition-count change): the merged dir carries those
        sketches instead, published in the same swap, so readers see
        either the complete old sketch set or the complete new one,
        never a mix (a mix could pair new-P and old-P sketches, the
        false-negative risk the rebuild removes). Like any compaction,
        it forecloses rollback past this point (compaction_floor).
        Returns the number of dirs collapsed."""
        manifest = self.read_manifest()
        paths = manifest["tables"].get(PACKED, [])
        if len(paths) <= 1 and bloom is None:
            return 0
        members = {
            t: self._packed_member(t, manifest) for t in TABLES if t not in _UNCOMPACTED
        }
        if bloom is not None:
            members["bloom"] = bloom
        members = {t: df for t, df in members.items() if df is not None}
        compact_path = self._fresh_dir(f"compacted={manifest['epoch']}")
        # files sized from the merged dirs' bytes on disk (no job), not
        # one per member and input split
        nbytes = sum(e.stat().st_size for p in paths for e in os.scandir(p))
        files = -(-nbytes // _COMPACT_FILE_BYTES) or 1
        _pack(members).repartition(files).write.parquet(compact_path)
        tables = manifest["tables"]
        for t in TABLES:
            if t in members:
                tables[t] = [compact_path]
            elif t not in _UNCOMPACTED:
                tables.pop(t, None)  # every row is in the bucketed base
        tables[PACKED] = [compact_path]
        # like Iceberg snapshot expiry: history before the compaction
        # point is gone — rollback past it must be refused
        manifest.setdefault("compaction_floor", {})[PACKED] = manifest["epoch"]
        self._write_manifest(manifest)  # atomic swap
        self._sweep(manifest, paths)
        return len(paths)

    def _sweep(self, manifest: dict, paths: list[str]) -> None:
        """Remove each of ``paths`` that the committed manifest no
        longer lists: its rows were merged into a dir it does list."""
        listed = {p for ps in manifest["tables"].values() for p in ps}
        listed |= {g["path"] for gs in manifest.get("bucketed", {}).values() for g in gs}
        for p in paths:
            if p not in listed:
                shutil.rmtree(p, ignore_errors=True)

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
            t: [p for p in ps if _dir_epoch(p) <= epoch]
            for t, ps in manifest["tables"].items()
        }
        manifest["tables"] = {t: ps for t, ps in manifest["tables"].items() if ps}
        manifest["epoch"] = epoch
        self._write_manifest(manifest)

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        for name in self._catalog_tables:
            # external tables: a drop removes only the catalog entry
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        self._catalog_tables.clear()
