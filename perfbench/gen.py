"""Seeded input generator shared by the tick workloads.

Every tick input is a time-shifted copy of the committed ``events`` table
(``data/events.parquet``: 10k points, 5 event types over 30 days of
January 2024), the same recipe ``bench.py`` uses for its ingest block.
A seed fixes every shift and every value perturbation, and through them
every request of the read mix, so the same seed gives the same inputs.

The generator is pure numpy/pyarrow: it needs no Spark session, and the
program under test only ever sees the parquet batches and HTTP requests
it produces.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
US = 1_000
SECOND = 1_000_000_000
HOUR = 3_600 * SECOND
DAY = 86_400 * SECOND
FIELDS = ("price", "size")
#: The series whose copies are spread over more days (copy ``k`` moves a
#: further ``k * LONG_STEP_DAYS`` days). With more than 32 day directories
#: under it, Spark lists that series with a parallel listing job
#: (``spark.sql.sources.parallelPartitionDiscovery.threshold``), the path
#: that dominated reads in the 10x sizing probe; the other series keep
#: the base table's 31 days.
LONG_SERIES = "click"
LONG_STEP_DAYS = 1

def base_events() -> dict[str, np.ndarray]:
    """The committed events table as numpy columns (ts in epoch ns)."""
    t = pq.read_table(
        os.path.join(DATA_DIR, "events.parquet"),
        columns=["ts", "user_id", "event_type", "value"],
    )
    ts = t.column("ts").cast(pa.int64()).to_numpy() * US
    return {
        "series": np.asarray(t.column("event_type").to_pylist(), dtype=object),
        "ts": ts.astype(np.int64),
        "value": t.column("value").to_numpy().astype(np.float64),
        "user": t.column("user_id").to_numpy().astype(np.int64),
    }


def _copy(base: dict, rng: np.random.Generator, k: int, max_shift_s: int) -> dict:
    """One time-shifted copy: every point moves by the same seeded shift
    (whole microseconds, so ``ts_utc`` round-trips exactly), the points of
    ``LONG_SERIES`` by ``k * LONG_STEP_DAYS`` days more, and every point
    gets a seeded price perturbation."""
    shift = int(rng.integers(1, max_shift_s)) * SECOND + int(rng.integers(0, 1_000_000)) * US
    n = len(base["ts"])
    price = np.round(base["value"] * (1.0 + rng.normal(0.0, 0.02, n)), 2)
    size = ((base["user"] * 7 + k) % 100 + 1).astype(np.float64)
    spread = np.where(base["series"] == LONG_SERIES, k * LONG_STEP_DAYS * DAY, 0)
    return {"series": base["series"], "ts": base["ts"] + shift + spread, "price": price, "size": size}


def _frame(parts: list[dict]) -> dict[str, np.ndarray]:
    cols = {c: np.concatenate([p[c] for p in parts]) for c in ("series", "ts", "price", "size")}
    return cols


def _lww(cols: dict) -> dict:
    """Keep the last occurrence of each (series, ts), sorted by (series, ts)."""
    n = len(cols["ts"])
    order = np.lexsort((np.arange(n), cols["ts"], cols["series"].astype(str)))
    s, t = cols["series"][order], cols["ts"][order]
    last = np.ones(n, dtype=bool)
    last[:-1] = (s[1:] != s[:-1]) | (t[1:] != t[:-1])
    keep = order[last]
    return {c: v[keep] for c, v in cols.items()}


def warehouse_points(seed: int, copies: int) -> dict[str, np.ndarray]:
    """``copies`` time-shifted copies of events (shifts under one hour, so
    every series but ``LONG_SERIES`` keeps the base table's 31 days),
    LWW-unique on (series, ts)."""
    rng = np.random.default_rng([seed, 1])
    base = base_events()
    return _lww(_frame([_copy(base, rng, k, 3_600) for k in range(copies)]))


def to_arrow(cols: dict[str, np.ndarray]) -> pa.Table:
    """Canonical tick rows (``series, ts, ts_utc, value``) as the program's
    ``append_batch`` expects them."""
    n = len(cols["ts"])
    keys = pa.array(np.tile(np.array(FIELDS, dtype=object), n), pa.string())
    vals = pa.array(np.column_stack([cols["price"], cols["size"]]).reshape(-1), pa.float64())
    offsets = pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32))
    value = pa.MapArray.from_arrays(offsets, keys, vals)
    ts = pa.array(cols["ts"], pa.int64())
    ts_utc = pc.cast(pc.divide(ts, US), pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    return pa.table(
        {"series": pa.array(cols["series"], pa.string()), "ts": ts, "ts_utc": ts_utc, "value": value}
    )


def stage(cols: dict[str, np.ndarray], path: str) -> int:
    """Write one batch as a single parquet file; returns its size in bytes."""
    pq.write_table(to_arrow(cols), path)
    return os.path.getsize(path)


def sizes(cols: dict[str, np.ndarray]) -> dict[str, int]:
    """Input sizes recorded in the benchmark's output."""
    days = cols["ts"] // DAY
    return {
        "points": int(len(cols["ts"])),
        "series": int(len(set(cols["series"].tolist()))),
        "days": int(len(np.unique(days))),
        "partitions": int(len(set(zip(cols["series"].tolist(), days.tolist())))),
    }


# ---------------------------------------------------------------------------
# Read mix
# ---------------------------------------------------------------------------

#: (kind, share in tenths) of the serve read mix: equal shares for the
#: five parts of the read path (point GETs, aligned buckets, unaligned and
#: N-unit buckets, ``ma:k``, raw day scans), each part split evenly over
#: its kinds. No traffic log exists to weight them by.
READ_MIX = (
    ("get_hit", 1),
    ("get_miss", 1),
    ("bucket_aligned", 2),
    ("bucket_unaligned", 1),
    ("bucket_nunit", 1),
    ("ma", 2),
    ("raw_day", 2),
)
_REDUCERS = ("sum", "max", "min", "avg", "count", "first", "last")


def read_pool(cols: dict[str, np.ndarray], per_kind: int = 6) -> list[dict]:
    """A fixed pool of distinct read requests per mix kind. Each request is
    ``{"kind", "method", "path", "body"}`` where ``path`` is relative to
    the database URL.

    The pool's structure (series, day offsets, shapes, reducers) is the
    same for every seed, so no seed draws a cheaper or dearer mix; the
    seed reaches the requests through the points (``warehouse_points``):
    the timestamps a point GET asks for, the data every bucket covers."""
    series = sorted(set(cols["series"].tolist()))
    ns = len(series)
    ts_of = {s: np.sort(cols["ts"][cols["series"] == s]) for s in series}
    day_lo = int(cols["ts"].min() // DAY) * DAY
    # days every series covers, so no request of the pool is empty by
    # construction
    n_days = min(int((t[-1] - day_lo) // DAY) + 1 for t in ts_of.values())
    month = np.datetime64(day_lo, "ns").astype("datetime64[M]")
    month_lo, month_hi = (int((month + m).astype("datetime64[ns]").astype(np.int64)) for m in (0, 2))
    pool: list[dict] = []

    def query(kind: str, s: str, frm: int, to: int, group: str, fields: dict) -> dict:
        body = {"index": s, "from": int(frm), "to": int(to), "group": group, "fields": fields}
        return {"kind": kind, "method": "POST", "path": "/_query", "body": body}

    def day(d: int) -> int:
        return day_lo + d * DAY

    for j in range(per_kind):
        s = series[j % ns]
        t = ts_of[s][int((j + 0.5) / per_kind * len(ts_of[s]))]
        pool.append({"kind": "get_hit", "method": "GET", "path": f"/{s}/{int(t)}", "body": None})
        s = series[(j + 2) % ns]
        t = ts_of[s][int((j + 0.25) / per_kind * len(ts_of[s]))] + US
        pool.append({"kind": "get_miss", "method": "GET", "path": f"/{s}/{int(t)}", "body": None})

        s = series[(j + 1) % ns]
        if j % 4 == 0:  # OHLC candles per hour over 1-3 days
            d = (3 + 5 * j) % (n_days - 3)
            pool.append(query("bucket_aligned", s, day(d), day(d + 1 + j % 3), "hour",
                              {"price": ["first", "max", "min", "last"], "size": "sum"}))
        elif j % 4 == 1:  # reducers per day over the whole range
            reds = [_REDUCERS[(j + k) % len(_REDUCERS)] for k in range(3)]
            pool.append(query("bucket_aligned", s, day(0), day(n_days), "day",
                              {"price": reds, "size": "count"}))
        elif j % 4 == 2:  # monthly totals
            pool.append(query("bucket_aligned", s, month_lo, month_hi, "month",
                              {"price": ["sum", "avg", "max", "min"], "size": ["sum", "count"]}))
        else:  # minutes over one hour
            frm = day((2 + 7 * j) % (n_days - 1)) + (5 * j + 3) % 24 * HOUR
            pool.append(query("bucket_aligned", s, frm, frm + HOUR, "minute",
                              {"price": ["avg", "count"]}))

        s = series[(j + 3) % ns]
        frm = day((1 + 4 * j) % (n_days - 2)) + (600 + 317 * j) * SECOND
        to = frm + (12 + 7 * j % 30) * HOUR + 1_234 * SECOND
        pool.append(query("bucket_unaligned", s, frm, to, ("hour", "day")[j % 2],
                          {"price": [_REDUCERS[j % (len(_REDUCERS) - 1)], "last"], "size": "max"}))

        s = series[(j + 4) % ns]
        group = ("5minutes", "3hours", "2days")[j % 3]
        span = {"5minutes": 6 * HOUR, "3hours": 3 * DAY, "2days": 7 * DAY}[group]
        frm = day(2 * j % (n_days - 7)) + 3 * j % 24 * HOUR
        pool.append(query("bucket_nunit", s, frm, frm + span, group,
                          {"price": ["sum", "first"], "size": "avg"}))

        s = series[j % ns]
        d = (3 * j + 1) % (n_days - 2)
        pool.append(query("ma", s, day(d), day(d + 2), "hour", {"price": f"ma:{2 + j % 4}"}))

        s = series[(j + 1) % ns]
        d = (5 * j + 2) % n_days
        pool.append(query("raw_day", s, day(d), day(d + 1), "day", {}))
    return pool


def _kind_cycle() -> list[str]:
    """One cycle of the mix, kinds interleaved in proportion to their
    shares (smooth weighted round robin), so every stretch of requests
    has nearly the same composition."""
    total = sum(w for _k, w in READ_MIX)
    current = dict.fromkeys((k for k, _w in READ_MIX), 0)
    cycle = []
    for _ in range(total):
        for k, w in READ_MIX:
            current[k] += w
        best = max(current, key=current.get)
        current[best] -= total
        cycle.append(best)
    return cycle


def read_sequence(client: int, pool: list[dict], n: int) -> list[int]:
    """The first ``n`` pool indices one reader client issues: kinds follow
    the mix cycle, each client starting at another point of it, and each
    kind's requests are taken in turn."""
    cycle = _kind_cycle()
    by_kind = {k: [i for i, r in enumerate(pool) if r["kind"] == k] for k in cycle}
    taken = dict.fromkeys(by_kind, client)
    out = []
    for i in range(n):
        kind = cycle[(client * len(cycle) // 2 + i) % len(cycle)]
        out.append(by_kind[kind][taken[kind] % len(by_kind[kind])])
        taken[kind] += 1
    return out
