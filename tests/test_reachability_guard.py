"""Regrowth guard: every package definition serves the product.

A top-level function or class of the package, or a method of a
top-level class, is *used* when an ``ast.Name`` or ``ast.Attribute``
naming it appears in live code: the package itself, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. Expressions
inside f-strings count. A name counts only outside its own definition,
and code inside an unused definition is not live, so the scan repeats
until nothing more drops out. ``__init__`` re-exports are imports, not
uses, and tests are not live code.

The match is by bare name, so a collision (e.g. a private ``_drain``
in two modules) can only make the scan miss dead code, never flag
live code.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).parents[1]
PKG = ROOT / "s3_parquet_to_postgres_spark"

# Reference implementations that tests compare the product against.
ALLOWED = {
    "operators/dedup.py:shingles": "exact Jaccard reference in test_sketch_quality.py",
    "operators/similarity.py:_l2sq": "exact distances reference in test_pq.py",
}


def _live_files() -> list[pathlib.Path]:
    files = sorted(PKG.rglob("*.py"))
    files += sorted((ROOT / "tools").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def _definitions(tree: ast.Module, rel: str) -> dict[str, ast.AST]:
    """``rel:name`` (or ``rel:Class.method``) -> node, for the
    top-level defs and classes of one package module and the
    non-dunder methods of its top-level classes."""
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if not isinstance(node, kinds):
            continue
        defs[f"{rel}:{node.name}"] = node
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, kinds) and not item.name.startswith("__"):
                    defs[f"{rel}:{node.name}.{item.name}"] = item
    return defs


def _regions(node: ast.AST, owner: dict[int, str], chain: tuple = ()):
    """Yield ``(chain, names)`` per region of ``node``: the code between
    the definitions in ``owner`` (node id -> key), where ``chain`` holds
    the keys of the definitions that enclose the region."""
    names: set[str] = set()
    stack = [node]
    while stack:
        cur = stack.pop()
        key = owner.get(id(cur))
        if key is not None and cur is not node:
            yield from _regions(cur, owner, chain + (key,))
            continue
        if isinstance(cur, ast.Name):
            names.add(cur.id)
        elif isinstance(cur, ast.Attribute):
            names.add(cur.attr)
        stack.extend(ast.iter_child_nodes(cur))
    yield chain, names


def unused_definitions() -> list[str]:
    defs: dict[str, ast.AST] = {}
    regions = []
    for path in _live_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        owner = {}
        if PKG in path.parents:
            found = _definitions(tree, path.relative_to(PKG).as_posix())
            defs.update(found)
            owner = {id(node): key for key, node in found.items()}
        regions.extend(_regions(tree, owner))
    by_name: dict[str, list] = {}
    for chain, names in regions:
        for name in names:
            by_name.setdefault(name, []).append(chain)
    live = set(defs)
    while True:
        dropped = {
            key
            for key in live
            if not any(
                key not in chain and live.issuperset(chain)
                for chain in by_name.get(key.rsplit(":", 1)[1].rsplit(".", 1)[-1], ())
            )
        }
        if not dropped:
            return sorted(set(defs) - live)
        live -= dropped


def test_every_package_definition_is_reached_outside_tests():
    unused = [k for k in unused_definitions() if k not in ALLOWED]
    assert unused == [], (
        "package definitions only tests reach; wire them into the "
        f"product or delete them: {unused}"
    )


def test_allowlist_names_existing_unused_references():
    assert sorted(ALLOWED) == [k for k in unused_definitions() if k in ALLOWED]
