"""Tick query builder: reference query spec → DataFrame plan.

The reference's entire query IR is one struct —
``Query{Index, From, To, Group, Fields{field→reducer}}`` (``query.go:9-18``)
— executed by a cursor walk over its rollup tree (``storage/db.go:110-125``,
``storage/cursor.go:269-352``). Here the same spec becomes a declarative
DataFrame pipeline (filter → bucket → hash-aggregate) and Catalyst supplies
partition pruning, predicate pushdown, partial aggregation and codegen.

Semantics are the *intended* ones (SURVEY.md §2.4-2.5): half-open
``[from, to)`` (fixes B3), true ``count`` (B4), working seconds granularity
(B5), correct ``min`` (B6), UTC buckets (B7), NULL for missing fields (B8),
N-unit buckets honored (B2), one row per bucket (B1).

Reducers (reference ``cursor.go:295-345``): sum, max, min, avg, count,
first, last — plus ``ma`` which the reference aliases to avg
(``cursor.go:337-339``); we keep the alias and additionally offer a real
trailing moving average via ``ma:<k>``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tickdb_spark.schema import NS_PER_SECOND, ns_to_day, ns_to_ts, parse_time_ns

#: Fixed-width units usable for N-unit (from-anchored) buckets, in ns.
_UNIT_NS = {
    "second": NS_PER_SECOND,
    "minute": 60 * NS_PER_SECOND,
    "hour": 3_600 * NS_PER_SECOND,
    "day": 86_400 * NS_PER_SECOND,
    "week": 7 * 86_400 * NS_PER_SECOND,
}

# week beyond the reference's levels (node.go:8-24); both Spark and DuckDB
# anchor date_trunc('week') on Monday.
_CALENDAR_UNITS = ("second", "minute", "hour", "day", "week", "month", "year")

_GROUP_RE = re.compile(r"^(\d*)\s*(second|minute|hour|day|week|month|year)s?$")


def parse_group(group: str) -> tuple[int, str]:
    """``"5minutes"`` → ``(5, "minute")``; ``"hour"`` → ``(1, "hour")``.

    Mirrors the reference's ``parseGroup`` (``query.go:20-59``) with quirks
    fixed: the multiplier is *used* (B2) and ``second`` maps to seconds,
    not minutes (B5).
    """
    m = _GROUP_RE.match(group.strip().lower())
    if not m:
        raise ValueError(f"unsupported group spec: {group!r}")
    count = int(m.group(1)) if m.group(1) else 1
    if count < 1:
        raise ValueError(f"group multiplier must be >= 1: {group!r}")
    return count, m.group(2)


@dataclass(frozen=True)
class Reducer:
    """One requested aggregate: reducer name + optional MA window (buckets)."""

    name: str
    ma_window: int = 1

    @classmethod
    def parse(cls, spec: str) -> "Reducer":
        spec = spec.strip().lower()
        if spec.startswith("ma:"):
            return cls("ma", int(spec.split(":", 1)[1]))
        return cls(spec)


@dataclass(frozen=True)
class TickQuery:
    """Declarative tick query (reference ``query.go:9-18``, bugs fixed).

    ``series`` extends the reference's one-index-per-query rule
    (``query.go:13``): a string targets one series; a tuple targets that
    set; ``None`` targets every series. Multi-series results carry a
    ``series`` output column (grouped per series per bucket).
    """

    series: str | tuple[str, ...] | None
    frm: str | int
    to: str | int
    group: str
    #: field name → reducer spec(s): "sum"|"max"|"min"|"avg"|"count"|
    #: "first"|"last"|"ma"|"ma:<k>", or a list of them (the reference
    #: allows one reducer per field, ``query.go:91-96``; multi-reducer per
    #: field is our extension — it's what OHLC candles need, D5)
    fields: dict[str, str | list[str]] = dc_field(default_factory=dict)
    #: When True, sum/avg reduce through DECIMAL(18,6) instead of DOUBLE.
    #: Decimal addition is exact and associative, so results are
    #: bit-identical regardless of partition/merge order — and identical
    #: to any other engine using the same trick (the DuckDB oracle gate).
    #: Float sums are order-dependent; at 1000 executors the same query
    #: can return different low bits run-to-run.
    exact: bool = False

    @classmethod
    def from_dict(cls, spec: dict) -> "TickQuery":
        """Accept the reference's HTTP JSON shape: ``fields`` values may be
        bare reducer strings or ``{"reducer": name}`` dicts
        (``query.go:12-18``, ``README.md:33-43``)."""
        fields = {
            f: (r["reducer"] if isinstance(r, dict) else r)
            for f, r in spec.get("fields", {}).items()
        }
        return cls(
            series=spec["index"],
            frm=spec["from"],
            to=spec["to"],
            group=spec["group"],
            fields=fields,
            exact=bool(spec.get("exact", False)),
        )


def bucket_start_ns(ts_ns: Column, count: int, unit: str, anchor_ns: int) -> Column:
    """Bucket-start epoch-ns for a timestamp.

    * ``count == 1`` → calendar truncation (``date_trunc``), matching the
      reference's calendar tree levels (``timeutil.go:50-81``) but in UTC.
    * ``count > 1``, fixed-width unit → from-anchored arithmetic on BIGINT
      ns: ``anchor + floor((ts-anchor)/width)*width`` (declared D4).
    * ``count > 1``, month/year → from-anchored on the month/year index.
    """
    if count == 1:
        return ts_to_trunc_ns(ts_ns, unit)
    if unit in _UNIT_NS:
        # Pure BIGINT arithmetic: ts - ((ts - anchor) % width). Long/long
        # division would round through double (loses exactness near 2^53);
        # modulo stays integral. Valid for ts >= anchor, which the range
        # filter guarantees.
        width = count * _UNIT_NS[unit]
        diff = ts_ns - F.lit(anchor_ns)
        return ts_ns - diff % F.lit(width)
    # N-month / N-year buckets: index months (or years) since epoch,
    # anchor at the month containing `anchor_ns`.
    t = ns_to_ts(ts_ns)
    if unit == "month":
        idx = (F.year(t) - 1970) * 12 + F.month(t) - 1
        anchor_t = ns_to_ts(F.lit(anchor_ns))
        aidx = (F.year(anchor_t) - 1970) * 12 + F.month(anchor_t) - 1
        start_idx = aidx + F.floor((idx - aidx) / count).cast("long") * count
        bucket_ts = F.make_timestamp(
            (start_idx / 12).cast("int") + 1970,
            (start_idx % 12).cast("int") + 1,
            F.lit(1), F.lit(0), F.lit(0), F.lit(0),
        )
        return F.unix_micros(bucket_ts) * 1_000
    if unit == "year":
        yr = F.year(t)
        anchor_yr = F.year(ns_to_ts(F.lit(anchor_ns)))
        start_yr = anchor_yr + F.floor((yr - anchor_yr) / count).cast("long") * count
        bucket_ts = F.make_timestamp(
            start_yr.cast("int"), F.lit(1), F.lit(1), F.lit(0), F.lit(0), F.lit(0)
        )
        return F.unix_micros(bucket_ts) * 1_000
    raise ValueError(f"unsupported unit: {unit}")


def ts_to_trunc_ns(ts_ns: Column, unit: str) -> Column:
    """Calendar-truncate an epoch-ns column, returning epoch-ns."""
    if unit not in _CALENDAR_UNITS:
        raise ValueError(f"unsupported unit: {unit}")
    truncated = F.date_trunc(unit, ns_to_ts(ts_ns))
    return F.unix_micros(truncated) * 1_000


#: Decimal type for exact (order-independent) sums; 6 fractional digits
#: comfortably covers the reference's float payloads.
EXACT_DECIMAL = "decimal(18,6)"


def _agg_expr(value: Column, ts: Column, red: Reducer, alias: str, exact: bool = False) -> Column:
    """Per-bucket aggregate for one (field, reducer).

    first/last use ``min_by``/``max_by`` keyed on ts *where the field is
    present*, matching DuckDB ``arg_min/arg_max`` NULL handling — the
    reference instead reads its rollup's first/last slots
    (``cursor.go:316-329``) and emits 0.0 for absent fields (B8 → NULL).
    """
    name = red.name
    if name == "sum":
        if exact:
            return F.sum(value.cast(EXACT_DECIMAL)).cast("double").alias(alias)
        return F.sum(value).alias(alias)
    if name == "max":
        return F.max(value).alias(alias)
    if name == "min":
        return F.min(value).alias(alias)
    if name == "count":
        return F.count(value).alias(alias)
    if name in ("avg", "ma"):  # bucket-level state; real MA applied post-agg
        if exact:
            return (
                F.sum(value.cast(EXACT_DECIMAL)).cast("double") / F.count(value)
            ).alias(alias)
        return F.avg(value).alias(alias)
    if name == "first":
        return F.min_by(value, F.when(value.isNotNull(), ts)).alias(alias)
    if name == "last":
        return F.max_by(value, F.when(value.isNotNull(), ts)).alias(alias)
    raise ValueError(f"unknown reducer: {name}")


def push_ts_range(df: DataFrame, frm_ns: int, to_ns: int) -> DataFrame:
    """Redundant filters that let the scan skip what ``[frm_ns, to_ns)``
    on ``ts`` excludes; callers keep their exact ns predicate.

    * ``dt`` (the warehouse's date partition, the UTC day of ``ts``, see
      ``ingest.read_ticks``): ``dt BETWEEN day(from) AND day(to - 1 ns)``,
      a partition filter, so the read opens only the days it overlaps
      (the reference's calendar-tree descent, ``cursor.go:188-241``).
    * ``ts_raw`` (a timestamp-typed source whose ``ts`` is computed, so
      its range cannot reach the parquet scan): the same range on the
      raw column, widened to whole µs, pushes down and turns the scan
      into a time-slice read instead of a corpus read.

    A frame with neither column passes through untouched."""
    if "dt" in df.columns:
        df = df.where(F.col("dt").between(ns_to_day(frm_ns), ns_to_day(to_ns - 1)))
    if "ts_raw" in df.columns:
        raw = df.schema["ts_raw"].dataType
        lo = F.timestamp_micros(F.lit(frm_ns // 1_000)).cast(raw)
        hi = F.timestamp_micros(F.lit(-(-to_ns // 1_000))).cast(raw)
        df = df.where((F.col("ts_raw") >= lo) & (F.col("ts_raw") < hi))
    return df


def run_tick_query(ticks: DataFrame, query: TickQuery | dict) -> DataFrame:
    """Execute a tick query against the canonical (deduped) ticks DataFrame.

    Returns one row per non-empty bucket: ``(bucket BIGINT ns, <field>_<reducer>...)``
    ordered by bucket. Plan shape: partition-pruned scan (the series and,
    through ``push_ts_range``, the ``dt`` days ``[from, to)`` overlaps)
    → partial aggregate → one exchange → final aggregate → one partition
    (optional ``ma:<k>`` window, then a sort within it). The answer is at
    most one row per bucket and goes to the driver whole, so everything
    after the aggregate runs in one partition: no exchange for the window
    and no range-partitioned global sort (that sort's sampling job and
    second shuffle cost more driver time than the rows they order).
    """
    if isinstance(query, dict):
        query = TickQuery.from_dict(query)
    frm = parse_time_ns(query.frm)
    to = parse_time_ns(query.to)
    count, unit = parse_group(query.group)

    multi = not isinstance(query.series, str)
    cond = (F.col("ts") >= frm) & (F.col("ts") < to)
    if isinstance(query.series, str):
        cond = (F.col("series") == query.series) & cond
    elif query.series is not None:
        cond = F.col("series").isin(list(query.series)) & cond
    df = push_ts_range(ticks, frm, to).where(cond).drop("ts_raw", "dt")
    bucket = bucket_start_ns(F.col("ts"), count, unit, frm).alias("bucket")

    aggs, ma_cols = [], []
    for fname, rspecs in query.fields.items():
        if isinstance(rspecs, str):
            rspecs = [rspecs]
        for rspec in rspecs:
            red = Reducer.parse(rspec)
            alias = f"{fname}_{red.name}"
            value = F.col("value").getItem(fname)
            aggs.append(_agg_expr(value, F.col("ts"), red, alias, exact=query.exact))
            if red.name == "ma" and red.ma_window > 1:
                ma_cols.append((alias, red.ma_window))

    if not aggs:  # raw range scan (D2) when no reducers requested
        # every row goes to the driver: on a clean table (no dedup
        # exchange) the scan itself then reads in that one partition
        cols = (["series"] if multi else []) + ["ts", "value"]
        return (
            df.select(*cols).coalesce(1).sortWithinPartitions(*cols[: 2 if multi else 1])
        )

    group_cols = (["series"] if multi else []) + [bucket]
    out = df.groupBy(*group_cols).agg(*aggs).coalesce(1)
    order_cols = (["series"] if multi else []) + ["bucket"]
    for alias, k in ma_cols:
        base = Window.partitionBy("series") if multi else Window
        w = base.orderBy("bucket").rowsBetween(-(k - 1), 0)
        out = out.withColumn(alias, F.avg(alias).over(w))
    return out.sortWithinPartitions(*order_cols)


def wide_view(ticks: DataFrame, fields: list[str]) -> DataFrame:
    """Pivot the schemaless map into fixed columns (SURVEY.md §1.2): one
    DOUBLE column per requested field, NULL where absent. The ergonomic
    shape for fixed-schema workloads (OHLC candles etc.); map access is
    a per-row lookup, so this is pure projection — no shuffle."""
    cols = [F.col("series"), F.col("ts"), F.col("ts_utc")]
    cols += [F.col("value").getItem(f).alias(f) for f in fields]
    return ticks.select(*cols)
