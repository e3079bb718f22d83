"""Regrowth guard: every package definition and option serves the
product.

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

The same rule holds one level down, for options. A parameter of a
package function whose default is ``None``, a bool or a str, and that
an ``if`` or conditional expression in the body tests, selects a
branch. At least one live call site must pass it a value other than
its default, or the branch only runs when a test asks for it.
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
    "operators/similarity.py:nearest_centroid": (
        "column-fold reference in test_arrow_kernel_parity.py"
    ),
}

# Options that only tests set, each with the reason it stays.
ALLOWED_OPTIONS = {
    "operators/ranking.py:global_row_number.num_partitions": (
        "tests force several range partitions on tiny inputs"
    ),
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


def _functions(tree: ast.Module, rel: str):
    """``(key, call name, node, is_method)`` for every function of one
    package module, nested ones included. A call name is what a call
    site spells: the function's own name, or the class name for an
    ``__init__``."""
    out = []

    def visit(node: ast.AST, prefix: str, cls: str | None) -> None:
        for item in ast.iter_child_nodes(node):
            if isinstance(item, ast.ClassDef):
                visit(item, f"{prefix}{item.name}.", item.name)
            elif isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in item.decorator_list
                )
                name = cls if item.name == "__init__" and cls else item.name
                key = f"{rel}:{prefix}{item.name}"
                out.append((key, name, item, cls is not None and not static))
                visit(item, f"{prefix}{item.name}.", None)
            else:
                visit(item, prefix, cls)

    visit(tree, "", None)
    return out


def _branch_options(fn: ast.AST) -> dict[str, tuple[int | None, object]]:
    """Parameters of ``fn`` with a ``None`` / bool / str default that an
    ``if`` or conditional expression in its body tests: name ->
    (positional index or None, default value)."""
    args = fn.args
    positional = args.posonlyargs + args.args
    pairs = list(zip(positional[len(positional) - len(args.defaults):],
                     args.defaults))
    pairs += [(a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults)
              if d is not None]
    tested = {
        n.id
        for node in ast.walk(fn)
        if isinstance(node, (ast.If, ast.IfExp))
        for n in ast.walk(node.test)
        if isinstance(n, ast.Name)
    }
    options = {}
    for arg, default in pairs:
        if not isinstance(default, ast.Constant):
            continue
        if default.value is not None and type(default.value) not in (bool, str):
            continue
        if arg.arg in tested:
            index = positional.index(arg) if arg in positional else None
            options[arg.arg] = (index, default.value)
    return options


def _passes_other_value(call: ast.Call, param: str, index: int | None,
                        default: object, offset: int) -> bool:
    """Whether ``call`` may pass ``param`` a value other than
    ``default``: any expression that is not that same constant counts,
    and so does ``*args`` / ``**kwargs`` that could carry it."""
    def other(value: ast.AST) -> bool:
        return not (
            isinstance(value, ast.Constant)
            and type(value.value) is type(default)
            and value.value == default
        )

    for kw in call.keywords:
        if kw.arg is None or kw.arg == param:
            if kw.arg is None or other(kw.value):
                return True
    if index is None:
        return False
    pos = index - offset
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return True
        if i == pos:
            return other(arg)
    return False


def options_never_set() -> list[str]:
    """``rel:function.param`` for every branch-selecting option of a
    package function that no live call site sets."""
    options = []
    calls: dict[str, list[ast.Call]] = {}
    for path in _live_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if PKG in path.parents:
            rel = path.relative_to(PKG).as_posix()
            for key, name, fn, is_method in _functions(tree, rel):
                for param, (index, default) in _branch_options(fn).items():
                    offset = 1 if is_method and index is not None else 0
                    options.append((f"{key}.{param}", name, param, index,
                                    default, offset))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                func = node.func
                name = (func.id if isinstance(func, ast.Name)
                        else func.attr if isinstance(func, ast.Attribute)
                        else None)
                if name is not None:
                    calls.setdefault(name, []).append(node)
    return sorted(
        key
        for key, name, param, index, default, offset in options
        if not any(
            _passes_other_value(call, param, index, default, offset)
            for call in calls.get(name, ())
        )
    )


def test_every_branch_option_is_set_outside_tests():
    never_set = [k for k in options_never_set() if k not in ALLOWED_OPTIONS]
    assert never_set == [], (
        "options only tests set; wire them into the product or delete "
        f"them with the branches they select: {never_set}"
    )


def test_allowlisted_options_exist_and_are_still_never_set():
    assert sorted(ALLOWED_OPTIONS) == [
        k for k in options_never_set() if k in ALLOWED_OPTIONS
    ]
