"""The epoch-log format (stated in ``streaming/index.py``'s module
docstring) has one owner: a few private helpers there. This structural
check keeps hand-rolled stream loops, directory listings and epoch-dir
names from creeping back into ``tickdb_spark/streaming/``: a log is what
its work dir's manifest lists, and an epoch is a key on a file entry."""

from __future__ import annotations

import ast
import pathlib

import tickdb_spark

STREAMING = pathlib.Path(tickdb_spark.__file__).parent / "streaming"

#: construct -> the (file, top-level function or class) allowed to hold it
OWNERS = {
    "maxFilesPerTrigger": {
        ("index.py", "_drain_landing"),
        # the warehouse ingest stream feeds append_batch, not an epoch log
        ("ingest.py", "read_doc_stream"),
    },
    # readers and writers alike go through the manifest
    "os listing": set(),
    # an epoch key is the bare id (``3``, ``rebuild_5``), never a dir name
    "epoch_": set(),
    "recursiveFileLookup": set(),
}


def _docstrings(tree: ast.Module) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(
            n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def _constructs(tree: ast.Module) -> set[tuple[str, str]]:
    """(construct, top-level name) for every use of an owned construct;
    statements outside any function or class count as ``<module>``."""
    docs = _docstrings(tree)
    found = set()
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docs
            ):
                found |= {
                    (c, owner)
                    for c in ("maxFilesPerTrigger", "epoch_", "recursiveFileLookup")
                    if c in node.value
                }
            elif (
                isinstance(node, ast.Attribute)
                and node.attr in ("walk", "listdir", "scandir")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"
            ):
                found.add(("os listing", owner))
    return found


def test_detector_flags_a_hand_rolled_face():
    face = ast.parse(
        '''def f(spark, d, e):
    """epoch_<id>/ in a docstring is prose"""
    dirs = [x for x in os.listdir(d) if x != f"epoch_{e}"]
    spark.readStream.option("maxFilesPerTrigger", 1)
'''
    )
    assert _constructs(face) == {
        ("os listing", "f"), ("epoch_", "f"), ("maxFilesPerTrigger", "f"),
    }
    assert _constructs(ast.parse('"""epoch_<id>/"""\nX = 1\n')) == set()


def test_epoch_log_format_has_one_owner():
    stray = []
    for path in sorted(STREAMING.glob("*.py")):
        for construct, owner in _constructs(ast.parse(path.read_text())):
            if (path.name, owner) not in OWNERS[construct]:
                stray.append(f"{path.name}:{owner} uses {construct}")
    assert not stray, f"epoch-log format outside its helpers: {sorted(stray)}"
