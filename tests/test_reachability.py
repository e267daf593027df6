"""Reachability guard: every top-level engine function or class must be
named somewhere a user path can reach it.

A top-level ``def``/``class`` in ``vnavc_spark/`` passes when its name
appears in ``vnavc_spark/`` outside its own definition, or in
``perfbench/`` or ``bench.py``. Imports, ``__all__`` and docstrings do
not count as a use; ``@query(...)`` registration does. Functions kept
only for tests are listed in ``HOLD`` with the reason they stay.
No Spark session is needed.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "vnavc_spark"
CALLERS = [ROOT / "perfbench", ROOT / "bench.py"]

_PAPER_STAGE = "paper stage for run_pipeline to claim (ROADMAP 1(a))"
_PAPER_OP = "paper-op wrapper for run_pipeline to claim (ROADMAP 1(a))"
_REFERENCE = "reference implementation a test compares a live path against"
_TOOLING = "plan check tooling run by tests/test_plans.py"
_STREAM = "streaming operator the streaming tests drive"

HOLD = {
    # sources/: the crawl, PDF and metadata ingest stages
    "validate_urls": _PAPER_STAGE,
    "discover_book_urls": _PAPER_STAGE,
    "scrape_part_urls": _PAPER_STAGE,
    "download_files": _PAPER_STAGE,
    "scan_pdfs": _PAPER_STAGE,
    "extract_text": _PAPER_STAGE,
    "read_url_list": _PAPER_STAGE,
    "read_narrator_roster": _PAPER_STAGE,
    "query_download_url": _PAPER_STAGE,
    "with_mp3_info": _PAPER_STAGE,
    # pipeline/publish.py: finetune prep and dataset stats
    "build_prompts": _PAPER_STAGE,
    "corpus_stats": _PAPER_STAGE,
    "write_prompts_jsonl": _PAPER_STAGE,
    # paper-op wrappers
    "parts_by_book": _PAPER_OP,
    "min_sample_rate": _PAPER_OP,
    "flag_ratio": _PAPER_OP,
    "sample_rate_gate": _PAPER_OP,
    "bloom_row_prefilter": _PAPER_OP,
    "books_with_narrator": _PAPER_OP,
    "with_natural_part_order": _PAPER_OP,
    "explode_parts": _PAPER_OP,
    "assign_seg_ids": _PAPER_OP,
    "narrator_pivot": _PAPER_OP,
    "clean_transcript": _PAPER_OP,
    # reference implementations
    "simhash32": _REFERENCE,
    "hyperplane_sketch": _REFERENCE,
    "explode_sentences": _REFERENCE,
    "normalize_sentences": _REFERENCE,
    "salted_broadcast_skew_join": _REFERENCE
    + " (tests/test_skew.py: equal to the unsalted join)",
    # check tooling
    "window_partition_specs": _TOOLING,
    "scan_package": _TOOLING,
    "severed_local_checkpoint": "the loop checkpoint the chained-checkpoint "
    "lint (plans/lint.py) points offenders to",
    # registry-wide empty-corpus sweep asserts on it
    "drop_exact_dups": "tests/test_empty_corpus.py asserts on it in the "
    "registry-wide sweep",
    # streaming/
    "read_json_stream": _STREAM,
    "dedup_stream": _STREAM,
    "windowed_counts": _STREAM,
    "session_windows": _STREAM,
    "start_parquet_append": _STREAM,
    "start_incremental_neardup": _STREAM,
    "interval_join": _STREAM,
    "streaming_heavy_hitters": _STREAM,
    "running_user_totals": _STREAM,
}


def _docstring_ids(tree: ast.AST) -> set[int]:
    """ids of the Constant nodes that are docstrings."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _names_used(node: ast.AST, docs: set[int]) -> Counter:
    """How often ``node`` names each identifier: Name ids, attribute
    names, and string constants that are identifiers (getattr/registry
    keys). Imports, ``__all__`` and the docstrings in ``docs`` do not
    count."""
    out: Counter = Counter()
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in docs or isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            continue
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out[n.value] += 1
        stack.extend(ast.iter_child_nodes(n))
    return out


def _registered(node: ast.FunctionDef | ast.ClassDef) -> bool:
    """True for a ``@query(...)`` registry entry."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def _py_files(paths):
    for p in paths:
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(p.rglob("*.py"))


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def unreachable() -> dict[str, str]:
    """``{name: "module.py:line"}`` of every top-level engine def/class
    that nothing outside its own definition names."""
    used: Counter = Counter()
    for path in _py_files(CALLERS):
        tree = _parse(path)
        used += _names_used(tree, _docstring_ids(tree))
    engine = {path: _parse(path) for path in _py_files([ENGINE])}
    docs = {path: _docstring_ids(tree) for path, tree in engine.items()}
    for path, tree in engine.items():
        used += _names_used(tree, docs[path])

    found = {}
    for path, tree in engine.items():
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _registered(node):
                continue
            # uses inside the definition itself (recursion) do not count
            if used[node.name] > _names_used(node, docs[path])[node.name]:
                continue
            found[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
    return found


def test_every_engine_def_is_reached_or_held():
    dead = {n: where for n, where in unreachable().items() if n not in HOLD}
    assert not dead, (
        "top-level engine names nothing reaches (delete them, or add a "
        f"HOLD reason): {sorted(dead.items())}"
    )


def test_hold_entries_are_still_test_only():
    """A HOLD entry that something now reaches, or that no longer
    exists, is stale and must leave the list."""
    stale = sorted(set(HOLD) - set(unreachable()))
    assert not stale, f"HOLD entries reached or gone: {stale}"
