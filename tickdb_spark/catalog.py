"""Directory-backed catalog: databases and indexes (series).

The reference's catalog *is* the filesystem: a database is a directory
(``database.go:30-40``), an index is a file inside it (``database.go:49-69``),
``dblist`` walks the root (``database.go:119-132``). We keep the same
refreshingly simple model — a warehouse directory with one subdirectory per
database — but an "index" is a ``series=`` partition of the single ticks
table, not a separate file (one-table layout scales; file-per-series does
not), and the database's manifest, not a directory listing, says which
series hold ticks.

Fixed quirks: drop_db removes recursively (reference uses non-recursive
``os.Remove`` and fails on non-empty dbs, ``database.go:115-117``);
directory mode is sane (B14).
"""

from __future__ import annotations

import os
import shutil

from tickdb_spark.ingest import TICKS_DIR, _publish, manifest, writer


class DatabaseExistsError(Exception):
    pass


class DatabaseNotFoundError(Exception):
    pass


class Catalog:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def db_path(self, name: str) -> str:
        if not name or "/" in name or name.startswith("_"):
            raise ValueError(f"invalid database name: {name!r}")
        return os.path.join(self.warehouse, name)

    def create_db(self, name: str) -> None:
        path = self.db_path(name)
        if os.path.exists(path):
            raise DatabaseExistsError(name)
        os.makedirs(path)

    def list_dbs(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d)) and not d.startswith("_")
        )

    def db_info(self, name: str) -> dict:
        path = self._existing(name)
        return {"name": name, "path": path, "indexes": self.list_indexes(name)}

    def drop_db(self, name: str) -> None:
        shutil.rmtree(self._existing(name))

    def list_indexes(self, name: str) -> list[str]:
        """The series holding ticks, as the database's manifest lists them."""
        ticks = manifest(self._existing(name))["tables"].get(TICKS_DIR, [])
        return sorted({f["series"] for f in ticks})

    def drop_index(self, name: str, series: str) -> None:
        """Reference S7: ``DELETE /{db}/{index}/_all`` (``handlers.go:115-124``)
        — here a file-list edit, no table rewrite. The series' files of
        every rollup level go with its ticks, in the same commit, so a
        routed query cannot answer for a dropped index."""
        path = self._existing(name)
        with writer(path) as m:
            tables = {t: [f for f in fs if f["series"] != series] for t, fs in m["tables"].items()}
            if tables != m["tables"]:
                _publish(path, m, "drop_index", tables)

    def _existing(self, name: str) -> str:
        path = self.db_path(name)
        if not os.path.isdir(path):
            raise DatabaseNotFoundError(name)
        return path
