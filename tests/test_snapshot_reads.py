"""Readers take no lock: a read scans the files of the manifest that was
newest when it started, so a commit running beside it never removes a
file it opens and never shows it part of a write."""

from __future__ import annotations

import threading

from tickdb_spark.api import TickDB
from tickdb_spark.ingest import compact
from tickdb_spark.rollup import RollupStore, route_tick_query

SERIES = ("a", "b", "c")
DAYS = 10
DAY_Q = {
    "index": "a", "from": "2016-08-01T00:00:00Z", "to": "2016-08-11T00:00:00Z",
    "group": "day", "fields": {"v": ["sum", "count", "max"]}, "exact": True,
}


def _docs():
    """3 series x 10 days x 24 hourly ticks."""
    return [
        {"time": f"2016-08-{d:02d}T{h:02d}:00:00Z", "index": s, "value": {"v": float(d * 100 + h)}}
        for s in SERIES for d in range(1, DAYS + 1) for h in range(24)
    ]


def _loop(read, stop, answers, errors):
    while not stop.is_set():
        try:
            answers.append(read())
        except Exception as e:  # noqa: BLE001 — counted and asserted below
            errors.append(f"{type(e).__name__}: {str(e)[:200]}")


def test_reads_during_refresh_and_compact_see_no_error_and_no_wrong_answer(tmp_path, spark):
    """One thread loops a routed day query, one the same query on raw
    ticks, while six rounds of ``refresh()`` + ``compact()`` rewrite
    every rollup level and the whole ticks table under them."""
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("r")
    db = tdb.catalog._existing("r")
    tdb.put("r", _docs())
    store = RollupStore(spark, db)
    store.refresh()

    def routed():
        return [tuple(r) for r in route_tick_query(spark, db, DAY_Q).collect()]

    def raw():
        return [tuple(r) for r in tdb.query("r", DAY_Q).collect()]

    want = raw()
    assert len(want) == DAYS and routed() == want
    stop = threading.Event()
    answers = {"routed": [], "raw": []}
    errors: list[str] = []
    threads = [
        threading.Thread(target=_loop, args=(read, stop, answers[name], errors))
        for name, read in (("routed", routed), ("raw", raw))
    ]
    for t in threads:
        t.start()
    try:
        for _ in range(6):
            store.refresh()
            compact(spark, db)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert all(answers.values()), {k: len(v) for k, v in answers.items()}
    wrong = [a for got in answers.values() for a in got if a != want]
    assert wrong == []


def test_reads_during_appends_see_whole_batches(tmp_path, spark):
    """A reader counting ticks while batches are appended sees each
    batch whole or not at all: every batch adds 3 series x 10 days of
    new ticks, so every count is a multiple of its size. Spark's job
    commit moves a write's files into the table one at a time; only the
    manifest makes them visible."""
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("p")
    size = len(SERIES) * DAYS

    def batch(minute):
        return [
            {"time": f"2016-08-{d:02d}T00:{minute:02d}:00Z", "index": s, "value": {"v": 1.0}}
            for s in SERIES for d in range(1, DAYS + 1)
        ]

    tdb.put("p", batch(0))
    stop = threading.Event()
    counts: list[int] = []
    errors: list[str] = []
    reader = threading.Thread(
        target=_loop, args=(lambda: tdb.ticks("p").count(), stop, counts, errors)
    )
    reader.start()
    try:
        for minute in range(1, 9):
            tdb.put("p", batch(minute))
    finally:
        stop.set()
        reader.join(timeout=300)
    assert not reader.is_alive()
    assert errors == []
    assert counts
    assert [c for c in counts if c % size] == []
    assert tdb.ticks("p").count() == 9 * size
