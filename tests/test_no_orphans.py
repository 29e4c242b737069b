"""Orphan guard: every top-level function and class of the engine is
referenced from non-test code, so code that only tests reach does not
pile up. References are read from the AST (names, attributes, import
aliases), so a docstring or comment mention does not count. No Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = sorted((ROOT / "web_archive_downloader_spark").rglob("*.py")) + [
    ROOT / "__spark_entry__.py"
]
CALLERS = ENGINE + sorted((ROOT / "perfbench").glob("*.py")) + [
    ROOT / name for name in ("bench.py", "bench_extra.py", "submit_job.py")
]

# Reference implementations and fixtures that tests compare the engine
# against, and two entry points no script in this repo calls.
ALLOWED = {
    "embedding_neardup": "the exact side of the LSH near-dup recall test",
    "decode_validate_stage": "the image decode behind BASELINE's PSNR invariant",
    "images_df": "the image table behind BASELINE's PSNR invariant",
    "load_config_json": "parity with the reference's config loader",
    "gen_cdx_records": "the CDX fixture (invalid rows, re-snapshots) the oracle tests crawl",
    "images_from_assets": "perfbench's LayerProbes patch it by name",
    "stream_frontier_feed": "the streaming half of ingestion; CrawlPlan.ingest_inbox drains it",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _scan() -> tuple[dict[str, list[str]], set[str]]:
    """(top-level definition name -> defining files, every name referenced
    outside its own definition in non-test code)."""
    defined: dict[str, list[str]] = {}
    referenced: set[str] = set()
    for path in CALLERS:
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            refs = _refs(stmt)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                refs.discard(stmt.name)  # recursion is not a caller
                if path in ENGINE:
                    defined.setdefault(stmt.name, []).append(str(path.relative_to(ROOT)))
            referenced |= refs
    return defined, referenced


def test_every_engine_definition_has_a_non_test_reference():
    defined, referenced = _scan()
    orphans = sorted(
        f"{where}:{name}"
        for name, files in defined.items()
        if name not in referenced and name not in ALLOWED
        for where in files
    )
    assert not orphans, "referenced only by tests, or by nothing: " + ", ".join(orphans)


def test_allowlist_names_live_definitions():
    defined, _ = _scan()
    assert set(ALLOWED) <= set(defined)
