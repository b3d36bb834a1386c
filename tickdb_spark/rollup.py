"""Materialized rollup tables + query routing — the Spark-idiomatic
equivalent of the reference's interior-node pre-aggregation.

The reference maintains ``{sum, max, min, first, last, count}`` per field
on every interior tree pointer (``storage/node.go:39-53``), updated on
each insert (``node.go:213-226``, ``523-579``), so coarse queries never
touch raw points (``storage/cursor.go:269-352``). Here the same algebra
becomes a cascade of per-granularity rollup *tables*
(minute → hour → day → month → year), each derived from the previous by
re-aggregating the partial states — exactly the merge in
``node.go:553-577``:

    sum   ← sum(sum)            count ← sum(count)
    max   ← max(max)            min   ← min(min)     [B6 fixed]
    first ← min_by(first, first_ts)   last ← max_by(last, last_ts)

The cascade costs one shuffle per level over already-tiny data (each level
is ~60× smaller than the last), and a day-granularity query over a year of
ticks reads 365 rows/series instead of ~31M — the same asymptotic win the
reference's tree gives, with Parquet partition pruning standing in for
tree descent.

Routing: a bucket query whose buckets are unions of whole level-L buckets
and whose bounds are L-aligned is answered from the coarsest such built
level; everything else falls back to raw ticks. Either input goes through
the same finish, ``tickquery.answer``. Pure Python planning — no Catalyst
extension needed (SURVEY.md §4.2.1).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tickdb_spark.ingest import (
    ROLLUPS_DIR,
    TICKS_DIR,
    _publish,
    _write,
    manifest,
    read_table,
    read_ticks,
    writer,
)
from tickdb_spark.schema import NS_PER_DAY, ns_to_day, ns_to_dt, parse_time_ns
from tickdb_spark.session import scan_splits
from tickdb_spark.tickquery import (
    _UNIT_NS,
    Reducer,
    TickQuery,
    answer,
    parse_group,
    run_tick_query,
    select_range,
    ts_to_trunc_ns,
)

#: Every level's schema (``series`` is the partition column). Reads pass
#: it, so a level with no rows reads as zero rows, with no inference.
ROLLUP_SCHEMA = (
    "bucket bigint, field string, sum decimal(38,6), max double, min double, count bigint, "
    "first double, first_ts bigint, last double, last_ts bigint, series string"
)

#: Cascade order, finest first.
LEVELS = ("minute", "hour", "day", "month", "year")
#: Each level's table: its name in the manifest and its dir in the database.
_TABLES = {u: f"{ROLLUPS_DIR}/{u}" for u in LEVELS}

def rollup_from_ticks(ticks: DataFrame, unit: str) -> DataFrame:
    """Base rollup: explode the field map and aggregate per
    (series, bucket, field). Output schema is the algebraic state."""
    exploded = ticks.select(
        "series", "ts", F.explode("value").alias("field", "v")
    )
    bucket = ts_to_trunc_ns(F.col("ts"), unit).alias("bucket")
    # DECIMAL sum state: exact and order-independent, so a rollup-routed
    # answer is bit-identical to the exact-mode raw-tick answer (and to
    # any other engine summing through decimal) at every cascade level.
    # It is NOT the default double answer: the cast rounds each value to
    # 6 fractional digits, so a value smaller than 5e-7 in magnitude adds
    # 0 to sum/avg. Routing the HTTP `_query` path (double by default)
    # waits for a sum state exact for every double.
    return (
        exploded.groupBy("series", bucket, "field")
        .agg(
            F.sum(F.col("v").cast("decimal(28,6)")).alias("sum"),
            F.max("v").alias("max"),
            F.min("v").alias("min"),
            F.count("v").alias("count"),
            F.min_by("v", "ts").alias("first"),
            F.min("ts").alias("first_ts"),
            F.max_by("v", "ts").alias("last"),
            F.max("ts").alias("last_ts"),
        )
    )


#: The state merge law (reference ``node.go:553-577``, with the B6 min
#: fix): each state of a bucket from the states of the finer buckets
#: inside it, ``c(state)`` reading one state column.
_MERGE = {
    "sum": lambda c: F.sum(c("sum")),
    "max": lambda c: F.max(c("max")),
    "min": lambda c: F.min(c("min")),
    "count": lambda c: F.sum(c("count")),
    "first": lambda c: F.min_by(c("first"), c("first_ts")),
    "first_ts": lambda c: F.min(c("first_ts")),
    "last": lambda c: F.max_by(c("last"), c("last_ts")),
    "last_ts": lambda c: F.max(c("last_ts")),
}


def rollup_merge(finer: DataFrame, unit: str) -> DataFrame:
    """Coarsen a rollup one level by merging partial states."""
    bucket = ts_to_trunc_ns(F.col("bucket"), unit).alias("bucket")
    return finer.groupBy("series", bucket, "field").agg(
        *[merge(F.col).alias(state) for state, merge in _MERGE.items()]
    )


#: Max writers (= max files) per series per level of the salted write
#: (``_shape_for_write``). 8 keeps gate-scale file counts tiny while
#: splitting a TB-sized production series across 8 writers.
SPLITS_PER_SERIES = 8


def _shape_for_write(spark: SparkSession, df: DataFrame, src: list[dict]) -> DataFrame:
    """The pre-write exchange for one cascade level: one explicit
    exchange on (series, salt), salt = pmod(xxhash64(bucket),
    SPLITS_PER_SERIES). It bounds files AND writers per series at
    SPLITS_PER_SERIES without a one-writer-per-series straggler; writing
    straight from the aggregate's partitions would spray tasks x series
    files (OPTIMIZATION_r17.md has the measured comparison).

    The partition count is SIZE-ADAPTIVE (never a constant tuned to one
    box): ceil(source bytes / maxPartitionBytes), floored at
    defaultParallelism — the sources the level reads (raw ticks for the
    base level, the just-written finer level for merges, plus the kept
    rows of an incremental refresh; ``src`` holds their manifest entries)
    upper-bound the level's state, and extra partitions beyond the
    distinct (series, salt) pairs stay empty (no files, scheduling-only
    cost)."""
    nbytes = sum(f["bytes"] for f in src)
    par = max(spark.sparkContext.defaultParallelism, scan_splits(spark, nbytes))
    salt = F.pmod(F.xxhash64(F.col("bucket")), F.lit(SPLITS_PER_SERIES))
    return df.repartition(par, F.col("series"), salt)


class RollupStore:
    """Persisted rollup cascade for one database: one table per level."""

    def __init__(self, spark: SparkSession, db_path: str):
        self.spark = spark
        self.db_path = db_path

    def available(self, m: dict | None = None) -> list[str]:
        """The built levels, as manifest ``m`` (default: the newest) lists them."""
        tables = (m or manifest(self.db_path))["tables"]
        return [u for u in LEVELS if _TABLES[u] in tables]

    def refresh(self, levels: tuple[str, ...] = LEVELS) -> None:
        """(Re)build the cascade. Each level reads the previous level's
        parquet (not raw ticks), so the whole refresh is one raw scan plus
        progressively tiny merges. A full rebuild supersedes any pending
        incremental work."""
        with writer(self.db_path) as m:
            self._rebuild(m, levels, None)

    def read(self, unit: str, m: dict | None = None) -> DataFrame:
        """One level's table as manifest ``m`` (default: the newest) lists
        it; the scan is reused while that file set is unchanged
        (``ingest.read_table``)."""
        return read_table(self.spark, self.db_path, _TABLES[unit], ROLLUP_SCHEMA, m)

    def refresh_incremental(self) -> None:
        """Rebuild only the rollup slices invalidated since the last
        refresh — the Spark analogue of the reference's on-insert dirty-
        path re-reduce (``node.go:213-226``, ``523-579``).

        Ingest/delete record touched ``(series, dt)`` partitions in the
        manifest; per level we recompute ONLY the buckets covering
        those dates (for the base level a raw scan pruned to the dirty
        series and to the ``dt`` partitions those buckets cover: the
        dirty dates for minute/hour/day, their whole months or years for
        a coarser base; for merges the just-written finer level), keep
        every untouched row of the dirty series, and replace just the
        dirty series' files.
        Untouched series are never read or written. The recomputed
        buckets follow from the dirty dates, not from the ticks left in
        them, so a bucket whose every tick was deleted goes away.
        """
        with writer(self.db_path) as m:
            levels = tuple(self.available(m))
            dirty = [tuple(x) for x in m["dirty"]]
            if not levels:
                self._rebuild(m, LEVELS, None)
            elif dirty:
                self._rebuild(m, levels, dirty)

    def _rebuild(self, m: dict, levels: tuple[str, ...], dirty: list[tuple[str, str]] | None):
        """Write ``levels`` finest first, each merged from the files just
        written for the level before it, then commit them all in one
        manifest that clears ``dirty``: whole levels when ``dirty`` is
        None, else the dirty series' files, whose buckets covering a dirty
        date are recomputed and whose other rows are kept."""
        ticks = read_ticks(self.spark, self.db_path)
        src = m["tables"].get(TICKS_DIR, [])
        if dirty is not None:
            series = sorted({s for s, _ in dirty})
            dates = sorted({d for _, d in dirty})
            ticks = ticks.where(F.col("series").isin(series))
            src = [f for f in src if f["series"] in series]
        prev: DataFrame | None = None
        tables: dict[str, list[dict]] = {}
        for unit in LEVELS:
            if unit not in levels:
                continue  # a coarser level merges fine from any finer one
            table = _TABLES[unit]
            kept_files: list[dict] = []
            if dirty is None:
                df = rollup_from_ticks(ticks, unit) if prev is None else rollup_merge(prev, unit)
            else:
                # a dirty date invalidates every bucket covering it: the base
                # level re-reduces all ticks inside those buckets, a coarser
                # one merges all new finer rows inside them. On the base
                # level the dt predicate prunes the scan to the covered days;
                # the ts one keeps the selection exact for a row an older
                # writer stored under the neighbouring day
                if prev is None:
                    inside = _covers(F.col("dt"), unit, dates) & _covers(
                        ns_to_dt(F.col("ts")), unit, dates
                    )
                    fresh = rollup_from_ticks(ticks.where(inside), unit)
                else:
                    inside = _covers(ns_to_dt(F.col("bucket")), unit, dates)
                    fresh = rollup_merge(prev.where(inside), unit)
                kept = self.read(unit, m).where(
                    F.col("series").isin(series)
                    & ~_covers(ns_to_dt(F.col("bucket")), unit, dates)
                )
                df = kept.unionByName(fresh)
                live = m["tables"].get(table, [])
                src = src + [f for f in live if f["series"] in series]
                kept_files = [f for f in live if f["series"] not in series]
            shaped = _shape_for_write(self.spark, df, src)
            added = _write(
                self.db_path, m, table,
                lambda dest: shaped.write.mode("append").partitionBy("series").parquet(dest),
            )
            prev = self.spark.read.schema(ROLLUP_SCHEMA).option(
                "basePath", os.path.join(self.db_path, table)
            ).parquet(*[os.path.join(self.db_path, f["path"]) for f in added])
            src = added
            tables[table] = kept_files + added
        _publish(self.db_path, m, "refresh", tables, dirty=[])


def _covers(day, unit: str, dates: list[str]):
    """Whether the level-``unit`` bucket holding UTC day ``day`` (a date
    column) covers one of ``dates`` (ISO days): a dirty date invalidates
    every minute and hour bucket inside it, and the one day, month or
    year bucket containing it. On the ``dt`` partition column this is a
    partition filter."""
    days = sorted(map(dt.date.fromisoformat, dates))
    if unit in ("minute", "hour", "day"):
        return day.isin(days)
    starts = {d.replace(day=1) if unit == "month" else d.replace(month=1, day=1) for d in days}
    return F.trunc(day, unit).isin(sorted(starts))


def _aligned(ns: int, level: str) -> bool:
    if level in _UNIT_NS:
        return ns % _UNIT_NS[level] == 0
    # month/year alignment: UTC midnight on the 1st of a month (of January)
    d = ns_to_day(ns)
    return ns % NS_PER_DAY == 0 and d.day == 1 and (level == "month" or d.month == 1)


def _level(query: TickQuery, m: dict) -> str | None:
    """The coarsest level built in manifest ``m`` that answers ``query``,
    or None. A level answers when the query asks for reducers, no queried
    series has writes since the last refresh (``dirty``; expiry dirties
    nothing: downsampled retention), both bounds are level-aligned, and
    every query bucket is a union of whole level buckets: for a
    fixed-width bucket (N-unit anchored ones too, as the anchor IS
    ``from``) when the level's width divides the bucket's, for an N-month
    or N-year bucket at every level up to the bucket's unit."""
    queried = {query.series} if isinstance(query.series, str) else query.series
    dirty = {s for s, _ in m["dirty"]}
    if not query.reducers() or (dirty and (queried is None or not dirty.isdisjoint(queried))):
        return None
    count, unit = parse_group(query.group)
    frm, to = parse_time_ns(query.frm), parse_time_ns(query.to)
    for lv in reversed(LEVELS):
        if unit in _UNIT_NS:
            fits = lv in _UNIT_NS and count * _UNIT_NS[unit] % _UNIT_NS[lv] == 0
        else:
            fits = LEVELS.index(lv) <= LEVELS.index(unit)
        if fits and _TABLES[lv] in m["tables"] and _aligned(frm, lv) and _aligned(to, lv):
            return lv
    return None


def _merged(field: str, red: Reducer) -> Column:
    """``red`` over ``field``'s merged states (``_MERGE``), equal to the
    exact-mode raw aggregate (``tickquery._agg_expr``). Rows of other
    fields read NULL, which every merge aggregate skips (min_by/max_by
    skip NULL ordering keys, like min/max skip NULLs)."""

    def c(state: str) -> Column:
        return F.when(F.col("field") == field, F.col(state))

    if red.name == "sum":
        return _MERGE["sum"](c).cast("double")
    if red.name == "count":
        # a field absent from a bucket counts 0 raw, not NULL
        return F.coalesce(_MERGE["count"](c), F.lit(0).cast("long"))
    if red.name in ("avg", "ma"):
        return _MERGE["sum"](c).cast("double") / _MERGE["count"](c)
    if red.name in ("max", "min", "first", "last"):
        return _MERGE[red.name](c)
    raise ValueError(f"unknown reducer: {red.name}")


def route_tick_query(
    spark: SparkSession, db_path: str, query: TickQuery | dict
) -> DataFrame:
    """Answer a bucket query from the best rollup level (``_level``),
    falling back to raw ticks when none answers it, like the reference's
    rollup-vs-leaf read path (``cursor.go:269-352``). Both go through
    ``tickquery.answer``; a routed one merges every reducer's field
    states in one groupBy over the level's rows. The routed result equals
    the EXACT-mode raw answer (``exact=True``), not the default double one:
    the rollup's ``sum`` state is ``decimal(28,6)``, which rounds each
    value to 6 fractional digits, so ``sum``/``avg``/``ma`` of a routed
    answer drop every value smaller than 5e-7 in magnitude
    (``max``/``min``/``count``/``first``/``last`` match either way).

    Dirty series, built levels and the level's files all come from one
    manifest."""
    if isinstance(query, dict):
        query = TickQuery.from_dict(query)
    m = manifest(db_path)
    level = _level(query, m)
    if level is None:
        return run_tick_query(read_ticks(spark, db_path), query)
    rows = select_range(RollupStore(spark, db_path).read(level, m), query, "bucket")
    return answer(rows, query, "bucket", _merged)
