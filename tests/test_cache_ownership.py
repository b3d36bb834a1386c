"""State reused across registry entries has one owner, ``cachereg``
(its module docstring states the policy). This structural check keeps
hand-rolled memo dicts from creeping back into other modules."""

from __future__ import annotations

import ast
import pathlib

import tickdb_spark

PKG = pathlib.Path(tickdb_spark.__file__).parent

#: Module-level dicts that are filled by code but are not memos:
#: ``REGISTRY`` holds the registered entries, written by ``@register``
#: at import time.
NOT_MEMOS = {("querybank.py", "REGISTRY")}


def _is_empty_mapping(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.Call) and not node.args and not node.keywords:
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        return name in ("dict", "OrderedDict")
    return False


def _module_memos(tree: ast.Module) -> list[str]:
    """Module-level names bound to an empty mapping and item-assigned
    inside some function of the module."""
    empty = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if _is_empty_mapping(value):
            empty |= {t.id for t in targets if isinstance(t, ast.Name)}
    assigned = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Subscript) and isinstance(t.value, ast.Name):
                    assigned.add(t.value.id)
    return sorted(empty & assigned)


def test_detector_flags_a_memo_and_passes_a_constant_table():
    memo = ast.parse("_C = {}\ndef f(k):\n    _C[k] = 1\n")
    table = ast.parse("_T = {'a': 1}\nE = {}\ndef f(k):\n    return _T[k], E.get(k)\n")
    assert _module_memos(memo) == ["_C"]
    assert _module_memos(table) == []


def test_no_module_memo_outside_cachereg():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "cachereg.py":
            continue
        for name in _module_memos(ast.parse(path.read_text())):
            if (rel, name) not in NOT_MEMOS:
                found.append(f"{rel}:{name}")
    assert not found, f"module-level memos outside cachereg: {found}"
