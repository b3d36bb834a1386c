"""Readers take no lock: a read of a warehouse table or of a stream
state log scans the files of the manifest that was newest when it
started, so a commit running beside it never removes a file it opens
and never shows it part of a write."""

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


def _signature_log(spark, tmp_path):
    """A work dir whose signature log a stream face built from 3
    landing files of 20 vectors each; returns (work dir, log path)."""
    import os

    from tickdb_spark.streaming.index import stream_ann_index_maintenance

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(60)
    )
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        pdf.iloc[i * 20 : (i + 1) * 20].to_parquet(landing / f"b{i}.parquet", index=False)
    work = str(tmp_path / "state")
    stream_ann_index_maintenance(spark, str(landing), work, schema=emb.schema)
    return work, os.path.join(work, "signatures")


def test_reads_during_state_log_compaction_see_no_error_and_no_wrong_count(tmp_path, spark):
    """One thread loops a count of a stream face's signature log while
    the main thread runs six forced ``compact_all`` passes over its
    work dir; each pass rewrites the log in place and drops the files
    the previous one wrote."""
    from tickdb_spark.streaming.index import (
        _SIG_SCHEMA,
        _read_maintained,
        compact_all,
        compaction_policy,
    )

    work, sig_dir = _signature_log(spark, tmp_path)
    want = 60 * 24  # 24 LSH tables per vector
    stop = threading.Event()
    counts: list[int] = []
    errors: list[str] = []
    reader = threading.Thread(
        target=_loop,
        args=(lambda: _read_maintained(spark, sig_dir, _SIG_SCHEMA).count(), stop, counts, errors),
    )
    reader.start()
    try:
        for _ in range(6):
            compact_all(spark, work, force=True)
    finally:
        stop.set()
        reader.join(timeout=300)
    assert not reader.is_alive()
    assert errors == []
    assert counts
    assert [c for c in counts if c != want] == []
    # every pass adopted its rewrite: the log is one base, no epochs
    assert compaction_policy(sig_dir)["epochs"] == 0


def test_reads_during_epoch_commits_see_whole_epochs(tmp_path, spark):
    """A reader counting a state log while epochs land sees each epoch
    whole or not at all: every epoch is 8 files of 10 rows, so every
    count is a multiple of 80."""
    from tickdb_spark.streaming.index import _read_maintained, _write_epoch

    log = str(tmp_path / "state" / "log")

    def epoch(e):
        _write_epoch(spark.range(80).repartition(8), log, e)

    epoch(0)
    stop = threading.Event()
    counts: list[int] = []
    errors: list[str] = []
    reader = threading.Thread(
        target=_loop,
        args=(lambda: _read_maintained(spark, log, "id long").count(), stop, counts, errors),
    )
    reader.start()
    try:
        for e in range(1, 9):
            epoch(e)
    finally:
        stop.set()
        reader.join(timeout=300)
    assert not reader.is_alive()
    assert errors == []
    assert counts
    assert [c for c in counts if c % 80] == []
    assert _read_maintained(spark, log, "id long").count() == 9 * 80
