"""The ticks table's file layout (stated in ``ingest.py``'s module
docstring) has one writer: ``ingest._write_ticks``. This structural
check keeps appends and rewrites from hand-rolling that layout again
anywhere under ``tickdb_spark/``: no other code partitions a write by
``dt``, and no other code hands a path under ``TICKS_DIR`` to a
DataFrame writer."""

from __future__ import annotations

import ast
import pathlib

import tickdb_spark
from tickdb_spark.ingest import TICKS_DIR

PACKAGE = pathlib.Path(tickdb_spark.__file__).parent

#: construct -> the (file, top-level function) allowed to hold it
OWNERS = {
    "partitionBy dt": {("ingest.py", "_write_ticks")},
    "write under TICKS_DIR": {("ingest.py", "_write_ticks")},
}

#: methods that hand a DataFrame writer its destination
_SINKS = {"parquet", "save", "saveAsTable", "insertInto", "orc", "json", "csv", "text"}


def _names_ticks_dir(node: ast.AST, tainted: set[str]) -> bool:
    """Whether ``node`` names ``TICKS_DIR``, its value, or a local name
    assigned from either."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and (n.id == "TICKS_DIR" or n.id in tainted):
            return True
        if isinstance(n, ast.Attribute) and n.attr == "TICKS_DIR":
            return True
        if isinstance(n, ast.Constant) and n.value == TICKS_DIR:
            return True
    return False


def _is_writer(node: ast.AST) -> bool:
    """Whether a call's receiver chain goes through ``.write``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr in ("write", "writeStream"):
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def _constructs(tree: ast.Module) -> set[tuple[str, str]]:
    """(construct, top-level name) for every use of an owned construct;
    statements outside any function or class count as ``<module>``."""
    found = set()
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        tainted: set[str] = set()
        assigns = [n for n in ast.walk(top) if isinstance(n, ast.Assign)]
        grew = True
        while grew:  # names assigned from a TICKS_DIR path, transitively
            grew = False
            for a in assigns:
                if _names_ticks_dir(a.value, tainted):
                    new = {t.id for t in a.targets if isinstance(t, ast.Name)} - tainted
                    tainted |= new
                    grew = grew or bool(new)
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            args = [*node.args, *(k.value for k in node.keywords)]
            if node.func.attr == "partitionBy" and any(
                isinstance(a, ast.Constant) and a.value == "dt" for a in args
            ):
                found.add(("partitionBy dt", owner))
            if (
                node.func.attr in _SINKS
                and _is_writer(node.func.value)
                and any(_names_ticks_dir(a, tainted) for a in args)
            ):
                found.add(("write under TICKS_DIR", owner))
    return found


def test_detector_flags_a_hand_rolled_writer():
    face = ast.parse(
        '''def append(db, out):
    path = os.path.join(db, TICKS_DIR)
    out.write.mode("append").partitionBy("series", "dt").parquet(path)

def rewrite(keep, tmp):
    keep.select("ts", "dt").write.mode("overwrite").partitionBy("dt").parquet(tmp)

def direct(db, out):
    out.write.parquet(os.path.join(db, "ticks"))

def reader(spark, db):
    base = os.path.join(db, TICKS_DIR)
    return spark.read.parquet(base)
'''
    )
    assert _constructs(face) == {
        ("partitionBy dt", "append"),
        ("write under TICKS_DIR", "append"),
        ("partitionBy dt", "rewrite"),
        ("write under TICKS_DIR", "direct"),
    }


def test_ticks_layout_has_one_writer():
    stray = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for construct, owner in _constructs(ast.parse(path.read_text())):
            if (rel, owner) not in OWNERS[construct]:
                stray.append(f"{rel}:{owner} uses {construct}")
    assert not stray, f"ticks-table writes outside ingest._write_ticks: {sorted(stray)}"
