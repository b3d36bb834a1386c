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

Routing: a bucket query at calendar granularity G with G-aligned bounds is
answered from the coarsest rollup ≤ G; everything else falls back to raw
ticks. Pure Python planning — no Catalyst extension needed (SURVEY.md
§4.2.1).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
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
    TickQuery,
    bucket_start_ns,
    parse_group,
    run_tick_query,
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

#: ns widths used only for alignment checks (months/years align via
#: date_trunc, not fixed widths).
_ALIGN_CHECK = {
    "minute": 60 * 10**9,
    "hour": 3_600 * 10**9,
    "day": 86_400 * 10**9,
}


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


def rollup_merge(finer: DataFrame, unit: str) -> DataFrame:
    """Coarsen a rollup one level by merging partial states
    (reference ``node.go:553-577``, with the B6 min fix)."""
    bucket = ts_to_trunc_ns(F.col("bucket"), unit).alias("bucket")
    return (
        finer.groupBy("series", bucket, "field")
        .agg(
            F.sum("sum").alias("sum"),
            F.max("max").alias("max"),
            F.min("min").alias("min"),
            F.sum("count").alias("count"),
            F.min_by("first", "first_ts").alias("first"),
            F.min("first_ts").alias("first_ts"),
            F.max_by("last", "last_ts").alias("last"),
            F.max("last_ts").alias("last_ts"),
        )
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


def _aligned(ns: int, unit: str) -> bool:
    if unit in _ALIGN_CHECK:
        return ns % _ALIGN_CHECK[unit] == 0
    # month/year alignment: UTC midnight on the 1st of a month (of January)
    d = ns_to_day(ns)
    return ns % NS_PER_DAY == 0 and d.day == 1 and (unit == "month" or d.month == 1)


def route_tick_query(
    spark: SparkSession, db_path: str, query: TickQuery | dict
) -> DataFrame:
    """Answer a bucket query from the best rollup, falling back to raw
    ticks when semantics demand it (unaligned bounds, bucket widths no
    level divides, or no rollup built), like the reference's
    rollup-vs-leaf read path (``cursor.go:269-352``). The routed result
    equals the EXACT-mode raw answer (``exact=True``), not the default
    double one: the rollup's ``sum`` state is ``decimal(28,6)``, which
    rounds each value to 6 fractional digits, so ``sum``/``avg`` of a
    routed answer drop every value smaller than 5e-7 in magnitude
    (``max``/``min``/``count``/``first``/``last`` match either way).

    N-unit anchored buckets (D4) route too: a ``count > 1`` bucket is a
    union of whole level-L buckets whenever L's width divides the bucket
    width and both bounds are L-aligned (the anchor IS ``from``), so e.g.
    a 5-minute anchored query merges 5 minute-states per bucket instead
    of rescanning raw ticks. N-month/N-year buckets are unions of whole
    months, so they route from the month (or day/…) level when bounds sit
    on month boundaries."""
    if isinstance(query, dict):
        query = TickQuery.from_dict(query)
    count, unit = parse_group(query.group)
    # semantics the rollup answerer doesn't cover: raw scans (no fields)
    # and windowed moving averages (ma:<k> needs a post-agg window over
    # the full bucket sequence) go to the raw path
    specs = [
        r
        for rs in query.fields.values()
        for r in ([rs] if isinstance(rs, str) else rs)
    ]
    if not specs or any(s.startswith("ma:") for s in specs):
        return run_tick_query(read_ticks(spark, db_path), query)
    # a queried series with writes since the last refresh has stale
    # rollup rows (expiry dirties nothing: downsampled retention); one
    # manifest answers that, the built levels and the level's files
    m = manifest(db_path)
    dirty = {s for s, _ in m["dirty"]}
    queried = {query.series} if isinstance(query.series, str) else query.series
    if dirty and (queried is None or not dirty.isdisjoint(queried)):
        return run_tick_query(read_ticks(spark, db_path), query)
    store = RollupStore(spark, db_path)
    avail = store.available(m)
    frm, to = parse_time_ns(query.frm), parse_time_ns(query.to)
    usable = None
    if count == 1 and unit in LEVELS:
        candidates = tuple(reversed(LEVELS[: LEVELS.index(unit) + 1]))
    elif unit in _UNIT_NS:
        # fixed-width bucket (incl. count==1 week / N-second): usable
        # levels are the fixed-width ones whose width divides the bucket's
        width = count * _UNIT_NS[unit]
        candidates = tuple(
            lv for lv in ("day", "hour", "minute") if width % _ALIGN_CHECK[lv] == 0
        )
    elif unit == "month":
        candidates = ("month", "day", "hour", "minute")
    else:  # year (N-year buckets are unions of whole years and months)
        candidates = ("year", "month", "day", "hour", "minute")
    for candidate in candidates:
        if candidate in avail and _aligned(frm, candidate) and _aligned(to, candidate):
            usable = candidate
            break
    if usable is None:
        return run_tick_query(read_ticks(spark, db_path), query)
    return _answer_from_rollup(store.read(usable, m), query, count, unit, frm)


def _answer_from_rollup(
    rollup: DataFrame, query: TickQuery, count: int, unit: str, anchor_ns: int
) -> DataFrame:
    """One conditional-aggregation pass: every (field, reducer) pair is a
    field-gated merge aggregate in a single groupBy(bucket) — one shuffle
    over the (tiny) rollup rows instead of the aggregate-then-pivot
    two-shuffle shape. As in ``run_tick_query``, the at-most-one-row-per-
    bucket answer is then sorted within one partition, not globally."""
    frm, to = parse_time_ns(query.frm), parse_time_ns(query.to)
    multi = not isinstance(query.series, str)
    cond = (F.col("bucket") >= frm) & (F.col("bucket") < to)
    if isinstance(query.series, str):
        cond = (F.col("series") == query.series) & cond
    elif query.series is not None:
        cond = F.col("series").isin(list(query.series)) & cond
    df = rollup.where(cond)
    # Pre-filter to queried fields: a bucket whose rollup rows cover only
    # non-queried fields must emit NO row (matching the raw-scan answer),
    # not a row of all-NULL aggregates — and gated-out rows never entering
    # the aggregate is cheaper anyway.
    df = df.where(F.col("field").isin(list(query.fields)))
    # bucket_start_ns maps a (finer) rollup bucket start to its query
    # bucket for every group shape: calendar truncation for count == 1,
    # anchored BIGINT arithmetic for N-unit, month-index arithmetic for
    # N-month/N-year — the same expression raw ticks go through, applied
    # to level-bucket starts instead of tick timestamps.
    bucket = bucket_start_ns(F.col("bucket"), count, unit, anchor_ns).alias("bucket")
    aggs = []
    for fname, rspecs in query.fields.items():
        if isinstance(rspecs, str):
            rspecs = [rspecs]
        gate = F.col("field") == fname
        for rspec in rspecs:
            aggs.append(_merge_reducer_gated(rspec, f"{fname}_{rspec}", gate))
    if not aggs:
        raise ValueError("raw scans cannot be answered from a rollup")
    group_cols = (["series"] if multi else []) + [bucket]
    order_cols = (["series"] if multi else []) + ["bucket"]
    return df.groupBy(*group_cols).agg(*aggs).coalesce(1).sortWithinPartitions(*order_cols)


def _merge_reducer_gated(rspec: str, alias: str, gate):
    """Merge aggregate over one field's rollup states; rows of other
    fields are gated to NULL, which every aggregate here ignores
    (min_by/max_by skip NULL ordering keys, like min/max skip NULLs)."""
    name = rspec.split(":", 1)[0]

    def g(c: str):
        return F.when(gate, F.col(c))

    if name == "sum":
        return F.sum(g("sum")).cast("double").alias(alias)
    if name == "max":
        return F.max(g("max")).alias(alias)
    if name == "min":
        return F.min(g("min")).alias(alias)
    if name == "count":
        # raw-path count of a field absent from a (non-empty) bucket is 0,
        # not NULL — coalesce so merged states agree bit-for-bit
        return F.coalesce(F.sum(g("count")), F.lit(0).cast("long")).alias(alias)
    if name in ("avg", "ma"):
        return (F.sum(g("sum")).cast("double") / F.sum(g("count"))).alias(alias)
    if name == "first":
        return F.min_by(g("first"), g("first_ts")).alias(alias)
    if name == "last":
        return F.max_by(g("last"), g("last_ts")).alias(alias)
    raise ValueError(f"unknown reducer: {name}")
