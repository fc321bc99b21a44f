"""Every package module is reached from an entry point.

The package has two roots: the served frontends
(``python -m influxdb_iox_spark``, i.e. ``influxdb_iox_spark/__main__.py``)
and the declared queries (``__spark_entry__.py``).  This walks the
``import`` / ``from ... import`` edges of the source from those roots,
imports inside function bodies included, and fails on any package module
that neither root reaches: such a module is exercised only by its own
tests and is dead weight.

AST only: nothing is imported and no SparkSession is started.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "influxdb_iox_spark"

# Modules kept although no root imports them, each with its reason.
ALLOWED_UNREACHED = {
    # Disaster-recovery reader of the _iox_metadata.json and
    # _deletes/*.json sidecars that every write still produces: safety
    # code for a lost manifest, with no entry point yet.
    f"{PACKAGE}.sources.rebuild",
    # The S3 / GCS / Azure REST ObjectStore clients: the object-store
    # manifest and index-claim batteries (test_objstore_manifest.py,
    # test_index_txn.py) run their conditional-put CAS contract over
    # these real HTTP dialects, not only the in-memory double.
    f"{PACKAGE}.sources.s3rest",
    f"{PACKAGE}.sources.gcsrest",
    f"{PACKAGE}.sources.azurerest",
}


def _package_modules() -> dict[str, pathlib.Path]:
    modules = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules[".".join(parts)] = path
    return modules


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` runs ``a`` and ``a.b`` first."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imported_names(path: pathlib.Path, module: str) -> set[str]:
    is_package = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                names.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = module.split(".")
                anchor = anchor[: len(anchor) - node.level + is_package]
                base = ".".join(anchor + ([base] if base else []))
            names.update(_with_parents(base))
            # ``from pkg import name`` imports pkg.name when it is a module
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(modules: dict[str, pathlib.Path]) -> set[str]:
    todo = [("__spark_entry__", ROOT / "__spark_entry__.py"),
            (f"{PACKAGE}.__main__", modules[f"{PACKAGE}.__main__"])]
    seen = {name for name, _ in todo}
    while todo:
        name, path = todo.pop()
        for imported in _imported_names(path, name):
            if imported in modules and imported not in seen:
                seen.add(imported)
                todo.append((imported, modules[imported]))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    unreached = sorted(set(modules) - _reached(modules) - ALLOWED_UNREACHED)
    assert not unreached, (
        f"{len(unreached)} package module(s) reached by no entry point: "
        + ", ".join(unreached)
    )


def test_allowlist_names_only_existing_unreached_modules():
    modules = _package_modules()
    assert ALLOWED_UNREACHED <= set(modules)
    assert not ALLOWED_UNREACHED & _reached(modules)
