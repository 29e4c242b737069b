"""Orphan guard: every top-level function and class of the engine is
referenced from non-test code, so code that only tests reach does not
pile up. References are read from the AST, so a docstring or comment
mention does not count: a bare name counts only in the file that
defines it, other files count through an import alias or an attribute
(a local variable that shares a function's name elsewhere is no
caller). A reference from the checked query registry
(__spark_entry__.py) counts only for the curation operators in
REGISTRY_ONLY, so the registry cannot keep alive a function the crawl
does not run. No Spark."""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
REGISTRY = ROOT / "__spark_entry__.py"
ENGINE = sorted((ROOT / "web_archive_downloader_spark").rglob("*.py")) + [REGISTRY]
CALLERS = ENGINE + sorted((ROOT / "perfbench").glob("*.py")) + [
    ROOT / name for name in ("bench.py", "bench_extra.py", "submit_job.py")
]
NOT_REGISTRY = [path for path in CALLERS if path != REGISTRY]

# Reference implementations and fixtures that tests compare the engine
# against, and entry points no script in this repo calls.
ALLOWED = {
    "entry": "the flagship query that external jobs call in __spark_entry__.py",
    "embedding_neardup": "the exact side of the LSH near-dup recall test",
    "decode_validate_stage": "the image decode behind BASELINE's PSNR invariant",
    "images_df": "the image table behind BASELINE's PSNR invariant",
    "load_config_json": "parity with the reference's config loader",
    "gen_cdx_records": "the CDX fixture (invalid rows, re-snapshots) the oracle tests crawl",
    "images_from_assets": "perfbench's LayerProbes patch it by name",
    "stream_frontier_feed": "the streaming half of ingestion; CrawlPlan.ingest_inbox drains it",
}

# Curation operators that only the registry runs: name -> the
# queries() key whose query calls it.
REGISTRY_ONLY = {
    "brute_force_topk": "ann_bruteforce",
    "ivf_topk": "ann_ivf_topk",
    "lsh_bucketed_topk": "ann_lsh_topk",
    "dedup_components": "dedup_components",
    "embedding_neardup_lsh": "embedding_neardup_lsh",
    "exact_dedup": "dedup_exact",
    "ngram_decontaminate": "decontamination",
    "signature_clusters": "sig_clusters",
    "simhash_near_dups": "simhash_pairs",
    "similarity_pairs": "similarity_pairs",
    "phash_near_dups": "phash_pairs",
    "pack_sequences": "sequence_packing",
    "document_stats": "text_stats",
    "bpe_ish_token_count_col": "token_counts",
}


def _refs(node: ast.AST) -> tuple[set[str], set[str]]:
    """(bare names, names reached through an attribute or import alias)."""
    bare, qualified = set(), set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            bare.add(n.id)
        elif isinstance(n, ast.Attribute):
            qualified.add(n.attr)
        elif isinstance(n, ast.alias):
            qualified.add(n.name.rsplit(".", 1)[-1])
    return bare, qualified


def _scan(
    callers: list[Path] = CALLERS,
) -> tuple[dict[str, list[str]], dict[str, set[str]]]:
    """(top-level definition name -> defining files, file -> every name
    that counts as referenced there, outside its own definition, in
    the ``callers`` files). A bare name counts only in its own file; a
    qualified one counts in every file."""
    defined: dict[str, list[str]] = {}
    bare: dict[str, set[str]] = {}
    qualified: set[str] = set()
    for path in callers:
        where = str(path.relative_to(ROOT))
        bare[where] = set()
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            names, attrs = _refs(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.discard(stmt.name)  # recursion is not a caller
                if path in ENGINE:
                    defined.setdefault(stmt.name, []).append(where)
            bare[where] |= names
            qualified |= attrs
    return defined, {where: names | qualified for where, names in bare.items()}


def test_every_engine_definition_has_a_non_test_reference():
    defined, referenced = _scan()
    _, outside_registry = _scan(NOT_REGISTRY)
    orphans = sorted(
        f"{where}:{name}"
        for name, files in defined.items()
        if name not in ALLOWED
        for where in files
        if name not in referenced[where]
        or (
            where != REGISTRY.name
            and name not in REGISTRY_ONLY
            and name not in outside_registry[where]
        )
    )
    assert not orphans, "referenced only by tests, the registry, or nothing: " + ", ".join(orphans)


def test_allowlist_names_live_definitions():
    defined, _ = _scan()
    assert set(ALLOWED) <= set(defined)


def test_registry_only_names_live_and_have_a_query_caller():
    """Each REGISTRY_ONLY name is defined, reached by no non-test code
    but the registry, and called by the query its entry names."""
    defined, _ = _scan()
    _, outside_registry = _scan(NOT_REGISTRY)
    tree = ast.parse(REGISTRY.read_text(), str(REGISTRY))
    funcs = {f.name: f for f in tree.body if isinstance(f, ast.FunctionDef)}
    registry = next(n for n in ast.walk(funcs["queries"]) if isinstance(n, ast.Dict))
    query_fn = {k.value: v.id for k, v in zip(registry.keys, registry.values)}
    for name, key in REGISTRY_ONLY.items():
        assert name in defined, name
        assert not any(name in outside_registry[where] for where in defined[name]), (
            f"{name} is reached outside the registry; drop it from REGISTRY_ONLY"
        )
        assert name in set().union(*_refs(funcs[query_fn[key]])), f"{key} does not call {name}"


def _touches_the_layout(tree: ast.AST) -> bool:
    """Names a manifest accessor, writes a catalog table (saveAsTable,
    bucketBy) or holds a CREATE ... TABLE statement."""
    owned = {"read_manifest", "_write_manifest", "saveAsTable", "bucketBy"}
    return bool(owned & set().union(*_refs(tree))) or any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and re.search(r"\bCREATE\b[\w\s]*\bTABLE\b", n.value, re.I)
        for n in ast.walk(tree)
    )


def test_only_the_store_touches_the_manifest():
    """The on-disk layout has one owner: no engine module but
    sources/state.py names the manifest accessors or registers a
    catalog table, so every other module reaches crawl state through
    StateStore's methods and no state lands in the session's
    warehouse."""
    store = ROOT / "web_archive_downloader_spark" / "sources" / "state.py"
    touching = sorted(
        str(path.relative_to(ROOT))
        for path in ENGINE
        if path != store and _touches_the_layout(ast.parse(path.read_text(), str(path)))
    )
    assert not touching, "manifest or catalog touched outside the store: " + ", ".join(touching)
    assert _touches_the_layout(ast.parse(store.read_text(), str(store)))


_MUTABLE_CALLS = {"dict", "list", "set", "defaultdict", "OrderedDict", "Counter", "deque"}
_MUTATORS = {
    "add", "append", "clear", "discard", "extend", "insert",
    "pop", "popitem", "remove", "setdefault", "update",
}


def _module_mutables(tree: ast.Module) -> set[str]:
    """Module-level names bound to a dict, list or set."""
    out = set()
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
            targets, value = [stmt.target], stmt.value
        else:
            continue
        mutable = isinstance(
            value, (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp, ast.SetComp)
        ) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in _MUTABLE_CALLS
        )
        if mutable:
            out |= {t.id for t in targets if isinstance(t, ast.Name)}
    return out


def _mutated_globals(fn: ast.AST, mutables: set[str]) -> set[str]:
    """Module-level mutables that ``fn`` changes in place: item
    assignment, ``del``, or a mutating method call. A name the function
    binds itself (an argument or local) is its own, unless declared
    ``global``."""
    declared = {n for s in ast.walk(fn) if isinstance(s, ast.Global) for n in s.names}
    local = {
        n.id for n in ast.walk(fn) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    } | {a.arg for a in ast.walk(fn) if isinstance(a, ast.arg)}
    shared = mutables - (local - declared)
    hits = set()
    for n in ast.walk(fn):
        if isinstance(n, (ast.Assign, ast.AugAssign, ast.AnnAssign, ast.Delete)):
            targets = n.targets if isinstance(n, (ast.Assign, ast.Delete)) else [n.target]
            hits |= {
                t.value.id
                for t in targets
                if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name)
            }
        elif (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and isinstance(n.func.value, ast.Name)
            and n.func.attr in _MUTATORS
        ):
            hits.add(n.func.value.id)
    return hits & shared


def test_no_function_mutates_module_state():
    """No engine function keeps state in a module-level dict, list or
    set: a process-wide cache is keyed by something other than its
    input, so one caller's entries outlive or evict another's. State a
    query needs lives as long as the caller that runs the query."""
    hits = []
    for path in ENGINE:
        tree = ast.parse(path.read_text(), str(path))
        mutables = _module_mutables(tree)
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                hits += [
                    f"{path.relative_to(ROOT)}:{fn.name}:{name}"
                    for name in sorted(_mutated_globals(fn, mutables))
                ]
    assert not hits, "module-level state mutated by a function: " + ", ".join(hits)
