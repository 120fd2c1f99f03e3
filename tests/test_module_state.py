"""Guard on module-level memo and cache dicts in the engine package.

Each such dict is hidden state that has to earn its place with a
measurement (ROADMAP aim 2). This test lists them by an AST scan of
module-level assignments named `_*MEMO*` / `_*CACHE*`, so a new one
cannot arrive without this list changing with it."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "wilayah_aceh_etl_spark",
)

EXPECTED = {
    "tables._SCHEMA_MEMO",
    "tables._SPREAD_MEMO",
    "similarity._TRAINED_CENTROID_CACHE",
    "similarity._TRAINED_CENTROID_DF_CACHE",
    "ml_train._TRAJECTORY_CACHE",
}


def _module_memos() -> set[str]:
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
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
