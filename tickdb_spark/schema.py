"""Canonical tick schema + time helpers.

Reference data model: ``Point{Timestamp int64 /*ns*/, Value map[string]float64}``
(``storage/point.go:8-11``) inside one file per index (``database.go:49-69``).
Spark-first remodel: ONE table for all series, with the series name as a
partition-friendly column — a table-per-series layout is a small-files
anti-pattern at 100 TB, while ``partitionBy(series, date)`` gives the same
pruning the reference gets from its file-per-index + time-tree descent.

``ts`` stays authoritative BIGINT nanoseconds (Spark TimestampType is
µs-only) and is the only time the table stores; ``ts_utc``, the µs
timestamp used for calendar ops, is derived from it on read, and ``dt``
(the date partition) is the UTC day of ``ts``. Both derive from ``ts``
by integer floor division, never through a double: the stored ``dt``
and the day bounds a read prunes with (``ns_to_day``) must agree to the
nanosecond, or a tick next to midnight is pruned away.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

NS_PER_US = 1_000
NS_PER_SECOND = 1_000_000_000
NS_PER_DAY = 86_400 * NS_PER_SECOND
_EPOCH_DAY = _dt.date(1970, 1, 1)

#: Canonical tick table (``ts_utc`` is derived on read, not stored): the
#: reference's open per-point field map (schemaless,
#: ``storage/point.go:8-11``) becomes a MapType column.
TICKS_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),  # epoch nanoseconds
        T.StructField("value", T.MapType(T.StringType(), T.DoubleType()), True),
        # Monotone per-batch sequence for last-write-wins upsert semantics
        # (reference replaces the whole value map on duplicate ts,
        # ``storage/node.go:235-237``).
        T.StructField("ingest_seq", T.LongType(), False),
    ]
)

#: Ingest document shape, mirroring the reference's HTTP POST body
#: ``PostData{Time, Index, Value}`` (``database.go:24-28``).
POST_SCHEMA = T.StructType(
    [
        T.StructField("time", T.StringType(), False),
        T.StructField("index", T.StringType(), False),
        T.StructField("value", T.MapType(T.StringType(), T.DoubleType()), False),
    ]
)

# Calendar granularities the reference supports (levels in
# ``storage/node.go:8-24``; parse table ``query.go:20-59``). "second" is
# listed because we fix quirk B5 (reference maps seconds to minutes).
GRANULARITIES = ("second", "minute", "hour", "day", "month", "year")


def _floor_div(col: Column, d: int) -> Column:
    """``col // d`` on BIGINT, exact over the whole range: ``div``
    truncates toward zero, so a negative remainder steps down by one."""
    return F.call_function("div", col, F.lit(d)) - (col % d < 0).cast("long")


def ns_to_ts(col: Column) -> Column:
    """BIGINT epoch-ns → TimestampType, floored to the µs (integer
    division: a tick 1 ns before a µs, second or day boundary stays
    before it)."""
    return F.timestamp_micros(_floor_div(col, NS_PER_US))


def ns_to_dt(col: Column) -> Column:
    """BIGINT epoch-ns → its UTC day (DateType): the ``dt`` partition
    value. The column half of the one ns → day derivation; the Python
    half is :func:`ns_to_day`."""
    return F.date_from_unix_date(_floor_div(col, NS_PER_DAY).cast("int"))


def ns_to_day(ns: int) -> _dt.date:
    """Epoch-ns → its UTC day, with the same floor division as
    :func:`ns_to_dt` (the day bounds of every pruned read or rewrite)."""
    return _EPOCH_DAY + _dt.timedelta(days=ns // NS_PER_DAY)


def parse_time_ns(s: str | int | _dt.datetime) -> int:
    """Parse a time spec to epoch nanoseconds.

    Accepts epoch-ns ints, datetimes, and RFC3339-ish strings — the same
    surface the reference accepts via ``seriesly/timelib.ParseTime``
    (``database.go:79``, ``handlers.go:101``).
    """
    if isinstance(s, int):
        return s
    if isinstance(s, _dt.datetime):
        dt = s
    else:
        text = str(s).strip()
        if text.lstrip("-").isdigit():
            return int(text)
        dt = _dt.datetime.fromisoformat(text.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_dt.timezone.utc)
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    delta = dt - epoch
    return (delta.days * 86_400 + delta.seconds) * NS_PER_SECOND + delta.microseconds * NS_PER_US
