"""AST guards on the engine package.

Module-level memo and cache dicts: each is hidden state that has to
earn its place with a measurement (ROADMAP aim 2). The first test
lists them by an AST scan of module-level assignments named
`_*MEMO*` / `_*CACHE*`, so a new one cannot arrive without this list
changing with it.

Driver-held rows: `session.local_frame` is the one constructor for a
DataFrame over Python values in the engine's operator, plan, source
and streaming layers. `createDataFrame(<list>)` makes a LogicalRDD
over a PythonRDD, which starts Python workers when read and never
compares equal in a plan; the second test keeps it out of those layers."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "wilayah_aceh_etl_spark",
)

EXPECTED = {"cachectl._MODEL_MEMO"}


def _modules(top: str = PKG):
    """(path, parsed module) for every .py file under `top`."""
    for root, _dirs, files in os.walk(top):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    yield path, ast.parse(fh.read())


def _module_memos() -> set[str]:
    found = set()
    for path, tree in _modules():
        name = os.path.basename(path)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.startswith("_")
                    and ("MEMO" in t.id or "CACHE" in t.id)
                ):
                    found.add(f"{name[:-3]}.{t.id}")
    return found


def test_module_level_memos_are_exactly_the_listed_ones():
    assert _module_memos() == EXPECTED


def test_driver_rows_go_through_local_frame():
    calls = [
        f"{os.path.relpath(path, PKG)}:{node.lineno}"
        for layer in ("operators", "plans", "sources", "streaming")
        for path, tree in _modules(os.path.join(PKG, layer))
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]
    assert calls == []
