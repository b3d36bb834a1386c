"""DuckDB replay oracle for tick reads.

The expected answer to every read is recomputed from the generated points
alone (never from the warehouse): last-write-wins over the batches, then
the query spec's semantics in SQL — half-open ``[from, to)``, UTC
calendar buckets, from-anchored N-unit buckets, ``first``/``last`` by
timestamp and ``ma:k`` as a trailing average over bucket rows.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa

_UNIT_NS = {
    "second": 10**9,
    "minute": 60 * 10**9,
    "hour": 3_600 * 10**9,
    "day": 86_400 * 10**9,
}
_GROUPS = {"5minutes": (5, "minute"), "3hours": (3, "hour"), "2days": (2, "day")}


def _group(group: str) -> tuple[int, str]:
    return _GROUPS.get(group, (1, group))


def _bucket_sql(group: str, anchor: int) -> str:
    count, unit = _group(group)
    if count == 1 and unit in _UNIT_NS:
        return f"ts - ts % {_UNIT_NS[unit]}"
    if count == 1:
        return f"epoch_us(date_trunc('{unit}', make_timestamp(ts // 1000))) * 1000"
    return f"ts - (ts - {anchor}) % {count * _UNIT_NS[unit]}"


def _reducer_sql(field: str, red: str) -> str:
    return {
        "sum": f"sum({field})",
        "max": f"max({field})",
        "min": f"min({field})",
        "avg": f"avg({field})",
        "count": f"count({field})::BIGINT",
        "first": f"arg_min({field}, ts)",
        "last": f"arg_max({field}, ts)",
    }[red]


class Replay:
    """LWW point set in an in-memory DuckDB, answering reads the way the
    HTTP surface reports them (JSON-decoded)."""

    def __init__(self, batches: list[dict[str, np.ndarray]]):
        """LWW over ``batches`` in commit order. A batch holds each
        (series, ts) at most once (``gen`` guarantees it), so the batch
        sequence alone decides which write wins."""
        self.con = duckdb.connect()
        self.con.execute("SET threads=1")
        self.con.execute("CREATE TABLE raw (series VARCHAR, ts BIGINT, price DOUBLE, size DOUBLE, seq BIGINT)")
        for i, b in enumerate(batches):
            t = pa.table({
                "series": pa.array(b["series"], pa.string()),
                "ts": pa.array(b["ts"], pa.int64()),
                "price": pa.array(b["price"], pa.float64()),
                "size": pa.array(b["size"], pa.float64()),
                "seq": pa.array(np.full(len(b["ts"]), i, dtype=np.int64)),
            })
            self.con.register("batch", t)
            self.con.execute("INSERT INTO raw SELECT * FROM batch")
            self.con.unregister("batch")
        self.con.execute(
            "CREATE TABLE points AS SELECT series, ts, arg_max(price, seq) AS price, "
            "arg_max(size, seq) AS size FROM raw GROUP BY series, ts"
        )

    def get(self, series: str, ts: int) -> dict | None:
        row = self.con.execute(
            "SELECT price, size FROM points WHERE series = ? AND ts = ?", [series, ts]
        ).fetchone()
        return None if row is None else {"price": row[0], "size": row[1]}

    def query(self, spec: dict) -> list[dict]:
        where = "series = ? AND ts >= ? AND ts < ?"
        args = [spec["index"], int(spec["from"]), int(spec["to"])]
        fields = spec["fields"]
        if not fields:
            rows = self.con.execute(
                f"SELECT ts, price, size FROM points WHERE {where} ORDER BY ts", args
            ).fetchall()
            return [{"ts": t, "value": {"price": p, "size": s}} for t, p, s in rows]
        aggs, windows = [], []
        for field, reds in fields.items():
            for red in [reds] if isinstance(reds, str) else reds:
                if red.startswith("ma:"):
                    k = int(red.split(":")[1])
                    aggs.append(f"avg({field}) AS {field}_ma")
                    windows.append(
                        f"avg({field}_ma) OVER (ORDER BY bucket ROWS BETWEEN {k - 1} PRECEDING "
                        f"AND CURRENT ROW) AS {field}_ma"
                    )
                else:
                    aggs.append(f"{_reducer_sql(field, red)} AS {field}_{red}")
                    windows.append(f"{field}_{red}")
        bucket = _bucket_sql(spec["group"], int(spec["from"]))
        sql = (
            f"SELECT bucket, {', '.join(windows)} FROM ("
            f"SELECT {bucket} AS bucket, {', '.join(aggs)} FROM points WHERE {where} GROUP BY 1"
            ") ORDER BY bucket"
        )
        cur = self.con.execute(sql, args)
        names = [d[0] for d in cur.description]
        return [dict(zip(names, r)) for r in cur.fetchall()]

    def expected(self, req: dict) -> tuple[int, object]:
        """(HTTP status, decoded body) the program should answer ``req``
        with (see ``gen.read_pool``)."""
        if req["method"] == "GET":
            _, series, ts = req["path"].split("/")
            value = self.get(series, int(ts))
            return (404, None) if value is None else (200, value)
        return 200, self.query(req["body"])

    def close(self) -> None:
        self.con.close()


def _close(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, int) and isinstance(b, int) or a is None or b is None:
        return a == b
    try:  # doubles, and the Decimal sums a rollup level may return
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    except (TypeError, ValueError):
        return a == b


def matches(got, want) -> bool:
    """Row-for-row equality; doubles compare to 1e-9 relative, because a
    float sum's low bits depend on the order the engine adds in."""
    return _close(got, want)
