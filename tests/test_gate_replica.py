"""``scripts/gate_replica.py --reaching`` picks the registry entries a
change can affect; a missed entry is a parity check silently skipped."""

from __future__ import annotations

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_reaching_follows_imports_of_modules_not_yet_loaded():
    """Entries reach the streaming faces only through function-local
    ``from tickdb_spark.streaming.index import ...`` lines; in a fresh
    interpreter, as the script runs, nothing has imported that module
    yet, and ``reaching`` must import it rather than skip the name."""
    code = (
        "import sys; sys.path.insert(0, 'scripts'); import gate_replica as G; "
        "print(*G.reaching({'_read_maintained'}, G.E.queries()))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.split()
    assert {"stream_scd2_maintenance", "stream_dedup_ingest"} <= set(out), out


def test_help_and_unknown_entries_exit_before_a_session_starts():
    """``--help`` prints the usage and exits 0; an entry name the
    registry lacks exits non-zero, naming it; neither starts Spark."""

    def run(*args):
        return subprocess.run(
            [sys.executable, "scripts/gate_replica.py", *args],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )

    usage = run("--help")
    assert usage.returncode == 0, usage.stderr
    assert "--reaching" in usage.stdout
    bad = run("no_such_entry")
    assert bad.returncode != 0
    assert "unknown entries: no_such_entry" in bad.stderr
    for out in (usage, bad):
        assert "log4j" not in out.stdout + out.stderr  # no JVM was started
