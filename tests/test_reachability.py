"""Every package module is reachable from a product entry point.

The entry points are ``run.py`` (the CLI) and ``__spark_entry__.py`` (the
query corpus). The import closure is computed from the source alone, with
no Spark: every ``import`` statement counts, including the lazy imports
inside function bodies. A module outside the closure is code that only
tests or tools run; it must either be wired into a product path, or be
listed in ``UNREACHED`` with the work that will wire it (ROADMAP.md
directions), or be deleted.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "data_pipeline_with_spark_kafka_spark"

# Modules no entry point imports yet, each with what will launch it.
UNREACHED = {
    # Streaming twins of oracled batch queries: a `run.py stream <job>`
    # launch path (ROADMAP Direction 2).
    f"{PACKAGE}.streaming.attribution_stream": "run.py stream (Direction 2)",
    f"{PACKAGE}.streaming.markov_stream": "run.py stream (Direction 2)",
    f"{PACKAGE}.streaming.rfm_stream": "run.py stream (Direction 2)",
    f"{PACKAGE}.streaming.session_stream": "run.py stream (Direction 2)",
    # Streaming jobs without a batch twin: launched the same way, or
    # deleted with their tests (ROADMAP Direction 2).
    f"{PACKAGE}.streaming.curation_stream": "run.py stream or delete (Direction 2)",
    f"{PACKAGE}.streaming.incremental_stream": "run.py stream or delete (Direction 2)",
    f"{PACKAGE}.streaming.near_dup_ingest": "run.py stream or delete (Direction 2)",
    f"{PACKAGE}.streaming.quality_gate": "run.py stream or delete (Direction 2)",
    f"{PACKAGE}.streaming.trending": "run.py stream or delete (Direction 2)",
    # The observe wrappers grow into the run-record module (Direction 1).
    f"{PACKAGE}.plans": "run records (Direction 1)",
    f"{PACKAGE}.plans.audit": "run records (Direction 1)",
}


def _module_path(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _with_parents(name: str) -> list[str]:
    """``a.b.c`` -> [a, a.b, a.b.c]: importing a module runs every
    enclosing package's ``__init__`` first."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imports(path: Path) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            # `from pkg.mod import x`: x is a submodule or an attribute.
            names = [node.module] + [f"{node.module}.{alias.name}" for alias in node.names]
        else:
            continue
        for name in names:
            if name.split(".")[0] == PACKAGE:
                found.update(n for n in _with_parents(name) if _module_path(n))
    return found


def _closure() -> set[str]:
    seen: set[str] = set()
    todo = _imports(REPO / "__spark_entry__.py") | set(_with_parents(f"{PACKAGE}.run"))
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= _imports(_module_path(name)) - seen
    return seen


def _package_modules() -> set[str]:
    modules = set()
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        modules.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return modules


def test_every_package_module_is_reached_or_allowlisted():
    unreached = _package_modules() - _closure()
    assert unreached - set(UNREACHED) == set(), "package modules no entry point imports"


def test_allowlist_names_only_unreached_modules():
    """A module that gets wired in (or deleted) leaves the allowlist."""
    reached = _closure()
    stale = {m for m in UNREACHED if _module_path(m) is None or m in reached}
    assert stale == set()

