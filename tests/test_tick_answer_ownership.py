"""Every bucket answer, raw or routed, has one finish:
``tickquery.answer`` groups the selected rows by bucket, applies the
``ma:<k>`` windows and orders the result. This structural check keeps a
second answerer from being hand-rolled anywhere under ``tickdb_spark/``:
the only code that maps rows to query buckets (``bucket_start_ns``) is
``answer``."""

from __future__ import annotations

import ast
import pathlib

import tickdb_spark

PACKAGE = pathlib.Path(tickdb_spark.__file__).parent

#: the (file, top-level function) allowed to use ``bucket_start_ns``
OWNERS = {("tickquery.py", "answer")}


def _users(tree: ast.Module) -> set[str]:
    """Top-level names whose body calls, references or imports
    ``bucket_start_ns``; statements outside any function or class count
    as ``<module>``. Its own ``def`` is not a use."""
    found = set()
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Name) and node.id == "bucket_start_ns"
                or isinstance(node, ast.Attribute) and node.attr == "bucket_start_ns"
                or isinstance(node, ast.ImportFrom)
                and any(a.name == "bucket_start_ns" for a in node.names)
            ):
                found.add(owner)
    return found


def test_detector_flags_a_hand_rolled_answer():
    face = ast.parse(
        '''from tickdb_spark.tickquery import bucket_start_ns

def bucket_start_ns(ts, count, unit, anchor):
    return ts

def routed(rows, q):
    return rows.groupBy(bucket_start_ns(F.col("bucket"), 1, "hour", 0))

def aliased(rows):
    return rows.groupBy(tickquery.bucket_start_ns(F.col("ts"), 1, "day", 0))

def clean(rows, q):
    return answer(rows, q, "ts", [])
'''
    )
    assert _users(face) == {"<module>", "routed", "aliased"}


def test_bucket_answers_have_one_finish():
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for owner in _users(ast.parse(path.read_text())):
            if (rel, owner) not in OWNERS:
                stray.append(f"{rel}:{owner}")
    assert not stray, f"bucket_start_ns used outside tickquery.answer: {sorted(stray)}"
    assert "answer" in _users(ast.parse((PACKAGE / "tickquery.py").read_text()))
