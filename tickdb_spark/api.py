"""TickDB facade — the reference's full HTTP surface as a Python API.

Route-for-route parity with ``main.go:24-37`` (S1-S10, Q1, Q13 in
SURVEY.md §2.1-2.2); the engine behind it is Spark DataFrames over a
partitioned Parquet warehouse instead of the reference's per-series
time-tree files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tickdb_spark import ingest as _ingest
from tickdb_spark.catalog import Catalog
from tickdb_spark.schema import ns_to_day, parse_time_ns
from tickdb_spark.tickquery import TickQuery, run_tick_query


class TickDB:
    """One object ≈ one running tickdb server (reference ``main.go``)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(warehouse)

    # -- server / catalog (S2-S7) -------------------------------------
    def server_info(self) -> dict:
        """``GET /`` (``handlers.go:15-21``)."""
        return {"tickdb_spark": "Welcome", "version": "0.1.0", "engine": "pyspark"}

    def create_db(self, name: str) -> None:
        self.catalog.create_db(name)

    def list_dbs(self) -> list[str]:
        return self.catalog.list_dbs()

    def db_info(self, name: str) -> dict:
        return self.catalog.db_info(name)

    def drop_db(self, name: str) -> None:
        self.catalog.drop_db(name)

    def drop_index(self, db: str, series: str) -> None:
        self.catalog.drop_index(db, series)

    # -- ingest (S8) --------------------------------------------------
    def put(self, db: str, docs: list[dict]) -> int:
        """``POST /{db}`` with ``[{"time":…,"index":…,"value":{…}}]``
        (``handlers.go:57-77``). Returns the batch ingest_seq."""
        path = self.catalog._existing(db)
        batch = _ingest.normalize_docs(self.spark, docs, ingest_seq=0)
        return _ingest.append_batch(path, batch)

    # -- reads --------------------------------------------------------
    def ticks(self, db: str, as_of_seq: int | None = None) -> DataFrame:
        """Canonical LWW-deduped view of all series in a database:
        ``(series, ts, ts_utc, value, dt)``; ``ts_utc`` and ``dt`` (its UTC
        day, a filter on which prunes the scan) are derived from ``ts``.
        ``as_of_seq`` reads the snapshot as of that ingest batch (time
        travel; see :func:`tickdb_spark.ingest.read_ticks`)."""
        return _ingest.read_ticks(
            self.spark, self.catalog._existing(db), as_of_seq=as_of_seq
        )

    def get(self, db: str, series: str, time) -> dict | None:
        """Exact point lookup, ``GET /{db}/{index}/{time}`` (Q1:
        ``handlers.go:98-113``, ``storage/db.go:127-138``). Pruned to the
        series' partition of ``ts``'s day (``dt``), so it opens one file
        on a compacted table; returns the value map or None (ErrNotFound).
        ``(series, ts)`` is unique after dedup, so the answer has at most
        one row: ``collect()`` reads it in one job, where ``take(1)``
        scans one split first and starts a second job on every miss."""
        ts = parse_time_ns(time)
        from pyspark.sql import functions as F

        rows = (
            self.ticks(db)
            .where(
                (F.col("series") == series)
                & (F.col("dt") == ns_to_day(ts))
                & (F.col("ts") == ts)
            )
            .select("value")
            .collect()
        )
        return dict(rows[0][0]) if rows else None

    def query(
        self, db: str, spec: dict | TickQuery, as_of_seq: int | None = None
    ) -> DataFrame:
        """Aggregate query, ``POST /{db}/_query`` (``handlers.go:79-96``).
        ``as_of_seq`` runs the query against a historical snapshot."""
        return run_tick_query(self.ticks(db, as_of_seq=as_of_seq), spec)

    # -- deletes (Q13) ------------------------------------------------
    def delete(self, db: str, series: str, frm, to) -> None:
        """Range delete ``[from, to)`` (``handlers.go:126-166``)."""
        _ingest.delete_range(self.spark, self.catalog._existing(db), series, frm, to)

    # -- SQL surface ----------------------------------------------------
    def sql(self, db: str, query: str) -> DataFrame:
        """Run arbitrary Spark SQL with the database's LWW tick view
        registered as ``ticks`` (the :meth:`ticks` columns, ``dt`` the
        UTC day of ``ts``: filter on it to prune days) — the full
        relational surface (joins, windows, CTEs) over warehouse data;
        nothing comparable exists in the reference (its only query
        language is the JSON spec, ``query.go:9-18``)."""
        self.ticks(db).createOrReplaceTempView("ticks")
        return self.spark.sql(query)

    # -- maintenance --------------------------------------------------
    def compact(self, db: str) -> None:
        _ingest.compact(self.spark, self.catalog._existing(db))
