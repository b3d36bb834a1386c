"""Rollup cascade correctness: every reducer answered from a rollup must
equal the raw-tick answer (exact mode) bit-for-bit, at every granularity
and cascade level."""

from __future__ import annotations

import pytest

from tickdb_spark.api import TickDB
from tickdb_spark.ingest import expire_before
from tickdb_spark.rollup import RollupStore, route_tick_query
from tickdb_spark.tickquery import run_tick_query


@pytest.fixture(scope="module")
def db(tmp_path_factory, spark):
    tdb = TickDB(spark, str(tmp_path_factory.mktemp("wh")))
    tdb.create_db("r")
    docs = []
    # two series, sparse fields, several days, out-of-order
    for d in (1, 2, 3, 5):
        for h in (0, 7, 13, 23):
            for m in (0, 17, 42):
                v = float(d * 10000 + h * 100 + m)
                docs.append(
                    {
                        "time": f"2016-08-{d:02d}T{h:02d}:{m:02d}:30Z",
                        "index": "s1",
                        "value": {"x": v, **({"y": -v} if m != 17 else {})},
                    }
                )
                docs.append(
                    {"time": f"2016-08-{d:02d}T{h:02d}:{m:02d}:31Z", "index": "s2",
                     "value": {"x": v / 7.0}}
                )
    import random

    random.Random(42).shuffle(docs)
    tdb.put("r", docs)
    path = tdb.catalog._existing("r")
    RollupStore(spark, path).refresh()
    return tdb, path


ALL_REDUCERS = ["sum", "max", "min", "avg", "count", "first", "last"]


@pytest.mark.parametrize("group", ["hour", "day", "month"])
def test_rollup_equals_raw(db, spark, group):
    tdb, path = db
    spec = {
        "index": "s1",
        "from": "2016-08-01T00:00:00Z",
        "to": "2016-09-01T00:00:00Z",
        "group": group,
        "fields": {"x": ALL_REDUCERS, "y": ["sum", "first", "count"]},
        "exact": True,
    }
    raw = run_tick_query(tdb.ticks("r"), spec).collect()
    routed = route_tick_query(spark, path, spec).collect()
    assert len(raw) == len(routed) and len(raw) > 0
    for a, b in zip(raw, routed):
        assert a.asDict() == b.asDict(), (a, b)


def test_router_falls_back_on_unaligned(db, spark):
    tdb, path = db
    spec = {
        "index": "s1",
        "from": "2016-08-01T00:30:00Z",  # not hour-aligned
        "to": "2016-08-03T00:00:00Z",
        "group": "hour",
        "fields": {"x": "sum"},
        "exact": True,
    }
    raw = run_tick_query(tdb.ticks("r"), spec).collect()
    routed = route_tick_query(spark, path, spec).collect()
    assert [r.asDict() for r in raw] == [r.asDict() for r in routed]


def _reads_rollup(df, level: str) -> bool:
    return any(f"/rollups/{level}/" in f for f in df.inputFiles())


@pytest.mark.parametrize(
    "group,level",
    [
        ("2hours", "hour"),  # width 2h: hour divides it, day doesn't
        ("5minutes", "minute"),  # the D4 flagship shape
        ("90minutes", "minute"),  # no coarser level divides 90 min
        ("week", "day"),  # calendar week = union of days
        ("2months", "month"),  # N-month buckets = unions of months
    ],
)
def test_router_nunit_routes_and_matches_raw(db, spark, group, level):
    """N-unit anchored buckets (D4) are unions of whole finer-level
    buckets when alignment allows — the router must answer them from the
    rollup (plan reads rollups/<level>) and match raw bit-for-bit."""
    tdb, path = db
    spec = {
        "index": "s1",
        "from": "2016-08-01T00:00:00Z",
        "to": "2016-09-01T00:00:00Z" if "month" in group or group == "week" else "2016-08-06T00:00:00Z",
        "group": group,
        "fields": {"x": ALL_REDUCERS, "y": ["sum", "count", "first"]},
        "exact": True,
    }
    routed_df = route_tick_query(spark, path, spec)
    assert _reads_rollup(routed_df, level), f"{group} did not route via {level}"
    raw = run_tick_query(tdb.ticks("r"), spec).collect()
    routed = routed_df.collect()
    assert len(raw) == len(routed) and len(raw) > 0
    for a, b in zip(raw, routed):
        assert a.asDict() == b.asDict(), (a, b)


def test_router_nunit_falls_back_unaligned(db, spark):
    """A 2-hour query with a half-hour anchor is NOT a union of hour
    buckets — must fall back to raw and still be correct."""
    tdb, path = db
    spec = {
        "index": "s2",
        "from": "2016-08-01T00:30:00Z",
        "to": "2016-08-05T00:30:00Z",
        "group": "2hours",
        "fields": {"x": "avg"},
        "exact": True,
    }
    routed_df = route_tick_query(spark, path, spec)
    assert not _reads_rollup(routed_df, "hour")
    raw = run_tick_query(tdb.ticks("r"), spec).collect()
    assert [r.asDict() for r in raw] == [r.asDict() for r in routed_df.collect()]


def test_router_multiseries_routes(db, spark):
    """Multi-series specs group per (series, bucket) through the rollup
    path too — one row per series per bucket, same as raw."""
    tdb, path = db
    spec = {
        "index": None,
        "from": "2016-08-01T00:00:00Z",
        "to": "2016-08-06T00:00:00Z",
        "group": "day",
        "fields": {"x": ["sum", "count"]},
        "exact": True,
    }
    routed_df = route_tick_query(spark, path, spec)
    assert _reads_rollup(routed_df, "day")
    raw = run_tick_query(tdb.ticks("r"), spec).collect()
    routed = routed_df.collect()
    assert len(raw) == len(routed) and len(raw) > 0
    for a, b in zip(raw, routed):
        assert a.asDict() == b.asDict(), (a, b)


def test_router_ma_window_falls_back(db, spark):
    """ma:<k> needs the post-aggregation window; the router must not
    answer it from rollup merge aggregates."""
    tdb, path = db
    spec = {
        "index": "s1",
        "from": "2016-08-01T00:00:00Z",
        "to": "2016-08-06T00:00:00Z",
        "group": "hour",
        "fields": {"x": "ma:3"},
        "exact": True,
    }
    routed_df = route_tick_query(spark, path, spec)
    assert not _reads_rollup(routed_df, "hour")
    raw = run_tick_query(tdb.ticks("r"), spec).collect()
    assert [r.asDict() for r in raw] == [r.asDict() for r in routed_df.collect()]


def test_rollup_scan_is_smaller(db, spark):
    _, path = db
    store = RollupStore(spark, path)
    day = store.read("day")
    minute = store.read("minute")
    assert day.count() < minute.count()
    assert set(store.available()) == {"minute", "hour", "day", "month", "year"}


def test_incremental_refresh_matches_full(tmp_path, spark):
    """Incremental refresh after new batches + a delete must produce the
    same rollup tables as a full rebuild."""
    from tickdb_spark.ingest import manifest

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("inc")
    path = tdb.catalog._existing("inc")
    batch1 = [
        {"time": f"2016-08-{d:02d}T{h:02d}:00:00Z", "index": s, "value": {"x": float(d * 100 + h)}}
        for d in (1, 2, 20) for h in (0, 6, 12) for s in ("a", "b")
    ]
    tdb.put("inc", batch1)
    store = RollupStore(spark, path)
    store.refresh(("minute", "hour", "day", "month"))
    assert manifest(path)["dirty"] == []

    # new batch: new dates AND an upsert of an existing (series, ts)
    batch2 = [
        {"time": "2016-08-02T06:00:00Z", "index": "a", "value": {"x": 9999.0}},  # upsert
        {"time": "2016-09-05T03:00:00Z", "index": "a", "value": {"x": 7.0}},  # new month
        {"time": "2016-08-21T12:00:00Z", "index": "b", "value": {"x": 8.0}},
    ]
    tdb.put("inc", batch2)
    # delete a slice of series b (dirties its partitions too)
    tdb.delete("inc", "b", "2016-08-20T00:00:00Z", "2016-08-21T00:00:00Z")
    assert manifest(path)["dirty"] != []

    store.refresh_incremental()
    assert manifest(path)["dirty"] == []
    incremental = {
        u: sorted(
            (r["series"], r["bucket"], r["field"], float(r["sum"]), r["count"],
             r["first"], r["last"], r["min"], r["max"])
            for r in store.read(u).collect()
        )
        for u in ("minute", "hour", "day", "month")
    }

    store.refresh(("minute", "hour", "day", "month"))
    full = {
        u: sorted(
            (r["series"], r["bucket"], r["field"], float(r["sum"]), r["count"],
             r["first"], r["last"], r["min"], r["max"])
            for r in store.read(u).collect()
        )
        for u in ("minute", "hour", "day", "month")
    }
    assert incremental == full


def test_full_refresh_after_incremental_drops_departed_series(tmp_path, spark):
    """An incremental refresh must leave the session's overwrite mode
    alone: a later full refresh() still replaces each level whole, so a
    series dropped from the ticks table leaves the rollups too."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("ow")
    path = tdb.catalog._existing("ow")
    tdb.put("ow", [
        {"time": f"2016-08-0{d}T06:00:00Z", "index": s, "value": {"x": float(d)}}
        for d in (1, 2) for s in ("a", "b")
    ])
    store = RollupStore(spark, path)
    store.refresh()
    mode = spark.conf.get(conf)
    tdb.put("ow", [{"time": "2016-08-03T06:00:00Z", "index": "a", "value": {"x": 3.0}}])
    store.refresh_incremental()
    assert spark.conf.get(conf) == mode
    tdb.drop_index("ow", "b")
    store.refresh()
    assert {r["series"] for r in store.read("day").select("series").collect()} == {"a"}


def test_drop_index_leaves_no_rollup_rows(tmp_path, spark):
    """A dropped index is gone from every rollup level too: a routed
    query answers nothing for it, before and after an incremental
    refresh, and the other series still routes."""
    from tickdb_spark.rollup import LEVELS

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("dr")
    path = tdb.catalog._existing("dr")
    tdb.put("dr", [
        {"time": "2016-08-01T06:00:00Z", "index": s, "value": {"v": v}}
        for s, v in (("a", 1.0), ("b", 2.0))
    ])
    store = RollupStore(spark, path)
    store.refresh()
    tdb.drop_index("dr", "b")

    def q(series):
        return {"index": series, "from": "2016-08-01T00:00:00Z",
                "to": "2016-08-02T00:00:00Z", "group": "day", "fields": {"v": "sum"}}

    def routed(series):
        return [r["v_sum"] for r in route_tick_query(spark, path, q(series)).collect()]

    assert run_tick_query(tdb.ticks("dr"), q("b")).collect() == []
    assert routed("b") == []
    store.refresh_incremental()
    assert routed("b") == []
    assert routed("a") == [1.0]
    for unit in LEVELS:
        assert {r["series"] for r in store.read(unit).select("series").collect()} == {"a"}


def test_refresh_salted_write_bounds_files_per_series(db, spark, tmp_path):
    """r17 (VERDICT r16 ask #2): the salted write shape must bound BOTH
    writers and files per series — at most SPLITS_PER_SERIES parquet
    files in any series dir at any level (the small-files guarantee the
    removed per-series exchange used to give, without its one-writer-
    per-series straggler). Full and incremental refreshes share it; the
    files counted are those the level's table lists in the manifest."""
    from collections import Counter

    from tickdb_spark.ingest import manifest
    from tickdb_spark.rollup import SPLITS_PER_SERIES

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("inc")
    incremental = tdb.catalog._existing("inc")

    def docs(days, v):
        return [
            {"time": f"2016-08-{d:02d}T{h:02d}:{m:02d}:30Z", "index": s,
             "value": {"x": v + d * 100 + h}}
            for d in days for h in (0, 7, 13, 23) for m in (0, 17, 42) for s in ("s1", "s2")
        ]

    tdb.put("inc", docs((1, 2), 0.0))
    RollupStore(spark, incremental).refresh()
    tdb.put("inc", docs((2, 3, 5), 0.5))
    RollupStore(spark, incremental).refresh_incremental()
    for path in (db[1], incremental):
        for unit in ("minute", "hour", "day"):
            per_series = Counter(f["series"] for f in manifest(path)["tables"][f"rollups/{unit}"])
            assert per_series, f"no files in level {unit}"
            assert max(per_series.values()) <= SPLITS_PER_SERIES, (unit, per_series)


def test_rollup_schema_is_the_written_schema(db, spark):
    """Level reads pass ROLLUP_SCHEMA instead of inferring it, so it must
    name every column the cascade's aggregates write, with their types."""
    import os

    from tickdb_spark.rollup import LEVELS, ROLLUP_SCHEMA

    for unit in LEVELS:
        lvl = os.path.join(db[1], "rollups", unit)
        written = spark.read.parquet(lvl).schema
        declared = spark.read.schema(ROLLUP_SCHEMA).parquet(lvl).schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in declared
        ], unit


def _two_series_db(tmp_path, spark, name):
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db(name)
    tdb.put(name, [
        {"time": "2016-08-01T06:00:00Z", "index": s, "value": {"v": 1.0}} for s in ("a", "b")
    ])
    path = tdb.catalog._existing(name)
    RollupStore(spark, path).refresh()
    return tdb, path


def _day_sums(df):
    return [(r["bucket"], r["v_sum"]) for r in df.collect()]


def _day_query(index):
    return {"index": index, "from": "2016-08-01T00:00:00Z", "to": "2016-08-03T00:00:00Z",
            "group": "day", "fields": {"v": "sum"}}


def test_router_skips_rollups_of_series_written_since_refresh(tmp_path, spark):
    """A routed query answers from raw ticks while the metadata's dirty
    set names a queried series, and keeps routing for the others."""
    tdb, path = _two_series_db(tmp_path, spark, "st")
    tdb.put("st", [{"time": "2016-08-02T06:00:00Z", "index": "a", "value": {"v": 5.0}}])
    for index in ("a", ["a", "b"], None):
        spec = _day_query(index)
        routed = route_tick_query(spark, path, spec)
        assert not _reads_rollup(routed, "day"), index
        assert routed.collect() == run_tick_query(tdb.ticks("st"), spec).collect()
    assert len(_day_sums(route_tick_query(spark, path, _day_query("a")))) == 2
    for index in ("b", ["b"]):
        routed = route_tick_query(spark, path, _day_query(index))
        assert _reads_rollup(routed, "day"), index
        assert routed.collect() == run_tick_query(tdb.ticks("st"), _day_query(index)).collect()
    RollupStore(spark, path).refresh_incremental()
    routed = route_tick_query(spark, path, _day_query("a"))
    assert _reads_rollup(routed, "day")
    assert [v for _, v in _day_sums(routed)] == [1.0, 5.0]


def test_incremental_refresh_drops_a_bucket_whose_ticks_were_deleted(tmp_path, spark):
    """The buckets an incremental refresh recomputes follow from the
    dirty dates: deleting every tick a series had in a bucket removes
    that bucket from every level."""
    from tickdb_spark.rollup import LEVELS

    tdb, path = _two_series_db(tmp_path, spark, "dl")
    tdb.delete("dl", "b", "2016-08-01T00:00:00Z", "2016-08-02T00:00:00Z")
    store = RollupStore(spark, path)
    store.refresh_incremental()
    routed = route_tick_query(spark, path, _day_query("b"))
    assert _reads_rollup(routed, "day")
    assert _day_sums(routed) == [] == run_tick_query(tdb.ticks("dl"), _day_query("b")).collect()
    for unit in LEVELS:
        assert {r["series"] for r in store.read(unit).select("series").collect()} == {"a"}, unit


def _rollup_rows(df):
    return sorted(
        (r["series"], r["bucket"], r["field"], float(r["sum"]), r["count"]) for r in df.collect()
    )


def test_rollup_scan_reuse_follows_refreshes(tmp_path, spark):
    """RollupStore.read reuses a level's scan until a full or incremental
    refresh rewrites the level; the next read equals an uncached read of
    the files the newest manifest lists."""
    import os

    from tickdb_spark.ingest import manifest
    from tickdb_spark.rollup import LEVELS

    tdb, path = _two_series_db(tmp_path, spark, "ru")
    store = RollupStore(spark, path)

    def check():
        for unit in LEVELS:
            files = [os.path.join(path, f["path"]) for f in manifest(path)["tables"][f"rollups/{unit}"]]
            fresh = spark.read.option("basePath", os.path.join(path, "rollups", unit)).parquet(*files)
            assert _rollup_rows(store.read(unit)) == _rollup_rows(fresh), unit

    check()
    tdb.put("ru", [{"time": "2016-09-02T06:00:00Z", "index": "a", "value": {"v": 2.0}}])
    store.refresh_incremental()
    check()
    tdb.put("ru", [{"time": "2016-08-01T07:00:00Z", "index": "c", "value": {"v": 3.0}}])
    store.refresh()
    check()
    assert {r["series"] for r in store.read("year").collect()} == {"a", "b", "c"}


def test_incremental_refresh_from_a_coarse_base_level(tmp_path, spark):
    """With month as the finest level built, an incremental refresh
    recomputes each affected month from all of its ticks, not only from
    the dirty day's."""
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("cb")
    path = tdb.catalog._existing("cb")
    tdb.put("cb", [{"time": "2016-08-01T06:00:00Z", "index": "a", "value": {"v": 1.0}}])
    store = RollupStore(spark, path)
    store.refresh(("month",))
    tdb.put("cb", [{"time": "2016-08-02T06:00:00Z", "index": "a", "value": {"v": 2.0}}])
    store.refresh_incremental()
    assert [(float(r["sum"]), r["count"]) for r in store.read("month").collect()] == [(3.0, 2)]


@pytest.fixture
def unshrunk_shuffles(spark):
    """Keep every shuffle partition of the aggregate (no AQE coalescing
    of these tiny shuffles into one), so a result ordered only within
    partitions would show."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, before)


def _recompute(docs, series, frm, to, with_ma):
    """Hour buckets of ``x`` per series in pandas: sum, first and a
    trailing 3-bucket moving average of the bucket means, each series'
    average over that series alone; sorted by (series, bucket)."""
    import pandas as pd

    from tickdb_spark.schema import parse_time_ns

    pdf = pd.DataFrame(
        [(d["index"], parse_time_ns(d["time"]), d["value"]["x"]) for d in docs],
        columns=["series", "ts", "x"],
    )
    lo, hi = parse_time_ns(frm), parse_time_ns(to)
    pdf = pdf[(pdf.ts >= lo) & (pdf.ts < hi) & pdf.series.isin(series)]
    pdf["bucket"] = pdf.ts - pdf.ts % (3_600 * 10**9)
    pdf = pdf.sort_values("ts")
    g = pdf.groupby(["series", "bucket"], sort=True).x
    out = pd.DataFrame({"x_sum": g.sum(), "x_first": g.first(), "x_ma": g.mean()})
    out = out.reset_index()
    out["x_ma"] = out.groupby("series").x_ma.transform(
        lambda s: s.rolling(3, min_periods=1).mean()
    )
    cols = ["series", "bucket", "x_sum", "x_first"] + (["x_ma"] if with_ma else [])
    return [tuple(r) for r in out[cols].itertuples(index=False)]


@pytest.mark.parametrize("index", [None, ("s1", "s3")])
def test_result_order_of_raw_and_routed_bucket_queries(tmp_path, spark, unshrunk_shuffles, index):
    """Bucket answers come back sorted by (series, bucket) on the raw
    path (with an ``ma:3`` window) and the routed path, from ticks spread
    over several days and appends, so the aggregate reads several
    shuffle partitions."""
    import random

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("o")
    rng = random.Random(7)
    docs = [
        {"time": f"2016-08-{d:02d}T{h:02d}:{m:02d}:00Z", "index": s,
         "value": {"x": rng.randrange(-400, 400) / 4}}
        for s in ("s1", "s2", "s3") for d in (1, 2, 3, 4) for h in (0, 5, 9, 23)
        for m in (0, 13, 29)
    ]
    rng.shuffle(docs)
    for i in range(3):  # three appends: several files per partition
        tdb.put("o", docs[i::3])
    path = tdb.catalog._existing("o")
    RollupStore(spark, path).refresh()
    series = ["s1", "s2", "s3"] if index is None else list(index)
    spec = {"index": index, "from": "2016-08-01T00:00:00Z", "to": "2016-08-05T00:00:00Z",
            "group": "hour", "fields": {"x": ["sum", "first", "ma:3"]}, "exact": True}
    plain = {**spec, "fields": {"x": ["sum", "first"]}}
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1

    def rows(df):
        return [tuple(r) for r in df.collect()]

    want = _recompute(docs, series, spec["from"], spec["to"], with_ma=True)
    assert len(want) == 4 * 4 * len(series)
    for got in (rows(tdb.query("o", spec)), rows(route_tick_query(spark, path, spec))):
        assert [g[:4] for g in got] == [w[:4] for w in want]
        assert [g[4] for g in got] == pytest.approx([w[4] for w in want], rel=1e-12)
    want = _recompute(docs, series, spec["from"], spec["to"], with_ma=False)
    routed = route_tick_query(spark, path, plain)
    assert _reads_rollup(routed, "hour")
    assert rows(routed) == want
    assert rows(tdb.query("o", plain)) == want


def _crash_on_call(m, db, n):
    """Make the (n+1)-th step of a commit raise, counting together its
    Spark data writes, the ``os.link`` that publishes its manifest and
    every ``os.remove`` under the database (the temp manifest, the files
    it drops, the older manifests), with no grace period, so a crash
    lands after a data write, at or after the publish, or during the
    deletion."""
    from pyspark.sql.readwriter import DataFrameWriter

    import tickdb_spark.ingest as ing

    calls = {"k": 0}

    def crashing(real, counts=lambda *a: True):
        def call(*a, **kw):
            if counts(*a):
                if calls["k"] >= n:
                    raise RuntimeError("injected crash")
                calls["k"] += 1
            return real(*a, **kw)

        return call

    m.setattr(ing, "GRACE_S", 0.0)
    m.setattr(DataFrameWriter, "parquet", crashing(DataFrameWriter.parquet))
    m.setattr(ing.os, "link", crashing(ing.os.link))
    m.setattr(ing.os, "remove", crashing(ing.os.remove, lambda path: path.startswith(db)))


_REWRITES = {
    "refresh": lambda tdb, store, name: store.refresh(),
    "refresh_incremental": lambda tdb, store, name: store.refresh_incremental(),
    "drop_index": lambda tdb, store, name: tdb.drop_index(name, "b"),
}


@pytest.mark.parametrize(
    "rewrite,calls_before_crash",
    [("refresh", 1), ("refresh", 16)]
    + [("refresh_incremental", n) for n in (0, 1, 2, 16)]
    + [("drop_index", n) for n in (0, 1, 11)],
)
def test_rollup_rewrite_crash_rolls_forward(
    tmp_path, spark, monkeypatch, rewrite, calls_before_crash
):
    """A crash at any step of a full refresh, an incremental refresh or
    an index drop leaves every level with the rows it had before (crash
    before the publish) or with those of an uninterrupted run (at or
    after it), every file the manifest lists on disk, and a rerun ending
    where one uninterrupted run does."""
    import os
    import shutil

    from tickdb_spark.ingest import manifest
    from tickdb_spark.rollup import LEVELS

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("cr")
    path = tdb.catalog._existing("cr")
    tdb.put("cr", [
        {"time": f"2016-08-0{d}T06:00:00Z", "index": s, "value": {"v": float(d)}}
        for s, days in (("a", (1, 2, 3)), ("b", (1,))) for d in days
    ])
    store = RollupStore(spark, path)
    store.refresh()
    tdb.put("cr", [{"time": "2016-08-03T07:00:00Z", "index": "a", "value": {"v": 10.0}}])
    shutil.copytree(path, os.path.join(tmp_path, "wh", "cr2"))
    store2 = RollupStore(spark, tdb.catalog._existing("cr2"))
    _REWRITES[rewrite](tdb, store2, "cr2")

    def state(s, name):
        return {u: _rollup_rows(s.read(u)) for u in LEVELS}, sorted(
            (r["series"], r["ts"]) for r in tdb.ticks(name).collect()
        )

    before, n = state(store, "cr"), manifest(path)["n"]
    uninterrupted = state(store2, "cr2")
    assert uninterrupted != before
    with monkeypatch.context() as m:
        _crash_on_call(m, path, calls_before_crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            _REWRITES[rewrite](tdb, store, "cr")
    published = manifest(path)["n"] > n
    assert state(store, "cr") == (uninterrupted if published else before)
    listed = [f["path"] for fs in manifest(path)["tables"].values() for f in fs]
    assert all(os.path.isfile(os.path.join(path, p)) for p in listed)
    _REWRITES[rewrite](tdb, store, "cr")
    assert state(store, "cr") == uninterrupted


@pytest.fixture(scope="module")
def crash_base(tmp_path_factory, spark):
    """A database with rollups built, then an upsert and a new tick (so
    every rewrite has work), and a cache of each rewrite's uninterrupted
    result."""
    wh = tmp_path_factory.mktemp("crash_base")
    tdb = TickDB(spark, str(wh))
    tdb.create_db("base")
    tdb.put("base", [
        {"time": f"2016-08-0{d}T06:00:00Z", "index": s, "value": {"v": float(d)}}
        for s, days in (("a", (1, 2, 3)), ("b", (1,))) for d in days
    ])
    RollupStore(spark, tdb.catalog._existing("base")).refresh()
    tdb.put("base", [
        {"time": "2016-08-01T06:00:00Z", "index": "a", "value": {"v": 5.0}},
        {"time": "2016-08-03T07:00:00Z", "index": "a", "value": {"v": 10.0}},
    ])
    return tdb.catalog._existing("base"), {}


_OPS = {
    "compact": lambda tdb, store, name: tdb.compact(name),
    "delete_range": lambda tdb, store, name: tdb.delete(
        name, "a", "2016-08-02T00:00:00Z", "2016-08-03T07:00:00Z"
    ),
    "expire_before": lambda tdb, store, name: expire_before(
        tdb.spark, store.db_path, "2016-08-02T00:00:00Z"
    ),
    **_REWRITES,
}


def _crash_at(m, db, point):
    """Crash a commit before its manifest's link (``write``: its data
    files, if any, are written), right after the link (``publish``), or
    at the first removal of a data file it drops (``delete``). With no
    grace period, the commit deletes what it drops."""
    import tickdb_spark.ingest as ing

    link, remove = ing.os.link, ing.os.remove

    def crash(*a):
        raise RuntimeError("injected crash")

    def linked(*a):
        link(*a)
        crash()

    def removing(path):
        if path.startswith(db) and path.endswith(".parquet"):
            crash()
        return remove(path)

    m.setattr(ing, "GRACE_S", 0.0)
    if point == "delete":
        m.setattr(ing.os, "remove", removing)
    else:
        m.setattr(ing.os, "link", crash if point == "write" else linked)


@pytest.mark.parametrize("point", ["write", "publish", "delete"])
@pytest.mark.parametrize("op", list(_OPS))
def test_every_rewrite_ends_like_an_uninterrupted_run_at_every_crash_point(
    tmp_path, spark, monkeypatch, crash_base, op, point
):
    """For every rewrite and every crash point: a crash before the
    publish leaves the old rows exactly, one at or after it the rows of
    an uninterrupted run (ticks, every rollup level, the catalog and the
    manifest's fields), every file the manifest lists is on disk, and a
    rerun ends where one uninterrupted run does."""
    import os
    import shutil

    from tickdb_spark.ingest import manifest
    from tickdb_spark.rollup import LEVELS

    base, done = crash_base
    tdb = TickDB(spark, str(tmp_path))

    def copy(name):
        shutil.copytree(base, tmp_path / name)
        return RollupStore(spark, str(tmp_path / name))

    def state(store, name):
        m = manifest(store.db_path)
        return (
            {u: _rollup_rows(store.read(u)) for u in LEVELS},
            sorted((r["series"], r["ts"], r["value"]["v"]) for r in tdb.ticks(name).collect()),
            tdb.catalog.list_indexes(name),
            [m[k] for k in ("next_seq", "clean", "dirty", "history_from_seq", "expired_before_ns")],
        )

    if op not in done:
        _OPS[op](tdb, copy("u"), "u")
        done[op] = state(RollupStore(spark, str(tmp_path / "u")), "u")
    store = copy("c")
    before, n = state(store, "c"), manifest(store.db_path)["n"]
    assert done[op] != before
    with monkeypatch.context() as m:
        _crash_at(m, store.db_path, point)
        with pytest.raises(RuntimeError, match="injected crash"):
            _OPS[op](tdb, store, "c")
    published = manifest(store.db_path)["n"] > n
    assert published is (point != "write")
    assert state(store, "c") == (done[op] if published else before)
    listed = [f["path"] for fs in manifest(store.db_path)["tables"].values() for f in fs]
    assert all(os.path.isfile(os.path.join(store.db_path, p)) for p in listed)
    _OPS[op](tdb, store, "c")
    assert state(store, "c") == done[op]


@pytest.mark.parametrize("levels, files", [
    pytest.param(("minute", "hour", "day", "month", "year"), 2, id="minute-base"),
    pytest.param(("month", "year"), 7, id="month-base"),
])
def test_incremental_refresh_prunes_its_base_scan_to_the_covered_days(
    tmp_path, spark, monkeypatch, levels, files
):
    """After one put on 1 of 10 days, the base level's raw scan reads
    only the ``dt`` partitions its recomputed buckets cover: the dirty
    day for a minute base (its file and the put's), the dirty day's
    whole month (August's 6 days plus the put's file) for a month base.
    Every refreshed level equals a full ``refresh()``."""
    import tickdb_spark.rollup as rollup
    from tickdb_spark.plans import files_read, partition_filters

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("pr")
    path = tdb.catalog._existing("pr")
    days = [f"2016-07-{d}" for d in (28, 29, 30, 31)] + [f"2016-08-0{d}" for d in range(1, 7)]
    tdb.put("pr", [
        {"time": f"{d}T{h:02d}:00:00Z", "index": s, "value": {"v": float(h)}}
        for d in days for h in (6, 18) for s in ("a", "b")
    ])
    store = RollupStore(spark, path)
    store.refresh(levels)
    tdb.put("pr", [{"time": "2016-08-03T07:00:00Z", "index": "a", "value": {"v": 5.0}}])

    base_scans, build = [], rollup.rollup_from_ticks

    def recorded(ticks, unit):
        base_scans.append(ticks)
        return build(ticks, unit)

    monkeypatch.setattr(rollup, "rollup_from_ticks", recorded)
    store.refresh_incremental()
    monkeypatch.undo()
    (scan,) = base_scans
    (pf,) = partition_filters(scan)
    assert "dt" in pf
    scan.collect()
    assert files_read(scan) == files
    incremental = {u: _rollup_rows(store.read(u)) for u in levels}
    store.refresh(levels)
    assert incremental == {u: _rollup_rows(store.read(u)) for u in levels}
