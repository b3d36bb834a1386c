"""End-to-end tick engine tests on tiny synthetic batches (fixtures modeled
on FIXTURES.md F2/F3/F4: sparse fields, LWW upsert, bucket edges)."""

from __future__ import annotations

import pytest

from tickdb_spark.api import TickDB
from tickdb_spark.schema import parse_time_ns
from tickdb_spark.tickquery import parse_group

NS = 1_000_000_000


def _mk(tmp_path, spark, name="db1"):
    tdb = TickDB(spark, str(tmp_path / "warehouse"))
    tdb.create_db(name)
    return tdb


def _unsorted_files(table_dir):
    """Data files under ``table_dir`` whose ``ts`` column is not
    non-decreasing in file order."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{table_dir}/**/*.parquet", recursive=True)
    assert files, table_dir
    out = []
    for f in files:
        ts = pq.ParquetFile(f).read(columns=["ts"]).column("ts").to_pylist()
        if ts != sorted(ts):
            out.append(f)
    return out


def test_parse_group():
    assert parse_group("minute") == (1, "minute")
    assert parse_group("5minutes") == (5, "minute")
    assert parse_group("2hour") == (2, "hour")
    assert parse_group("second") == (1, "second")  # B5 fixed
    with pytest.raises(ValueError):
        parse_group("fortnight")


def test_parse_time_ns():
    assert parse_time_ns("1970-01-01T00:00:01Z") == NS
    assert parse_time_ns("2016-08-01T00:00:00Z") == 1470009600 * NS
    assert parse_time_ns(123) == 123
    assert parse_time_ns("2016-08-01T00:00:00.000123Z") == 1470009600 * NS + 123_000


def test_catalog_roundtrip(tmp_path, spark):
    tdb = _mk(tmp_path, spark)
    assert tdb.list_dbs() == ["db1"]
    assert tdb.db_info("db1")["indexes"] == []
    tdb.create_db("db2")
    tdb.drop_db("db2")
    assert tdb.list_dbs() == ["db1"]
    assert "version" in tdb.server_info()


def test_put_get_query_lww(tmp_path, spark):
    tdb = _mk(tmp_path, spark)
    t0 = "2016-08-01T00:00:00Z"
    tdb.put(
        "db1",
        [
            {"time": t0, "index": "idx", "value": {"open": 10.0, "close": 11.0}},
            {"time": "2016-08-01T00:00:30Z", "index": "idx", "value": {"open": 12.0}},
            {"time": "2016-08-01T00:01:10Z", "index": "idx", "value": {"open": 20.0, "close": 21.0}},
        ],
    )
    # exact GET (Q1)
    assert tdb.get("db1", "idx", t0) == {"open": 10.0, "close": 11.0}
    assert tdb.get("db1", "idx", "2016-08-01T09:00:00Z") is None

    # LWW upsert: second batch replaces the whole value map (D6)
    tdb.put("db1", [{"time": t0, "index": "idx", "value": {"open": 99.0}}])
    assert tdb.get("db1", "idx", t0) == {"open": 99.0}

    # minute-bucket aggregate (D3): bucket 0 has open 99,12; bucket 1 has 20
    out = tdb.query(
        "db1",
        {
            "index": "idx",
            "from": t0,
            "to": "2016-08-01T01:00:00Z",
            "group": "minute",
            "fields": {"open": {"reducer": "avg"}, "close": "last"},
        },
    ).collect()
    assert len(out) == 2
    b0, b1 = out
    assert b0["open_avg"] == pytest.approx(55.5)
    # close missing at LWW winner for t0 and at 00:00:30 → bucket-0 last close is NULL
    assert b0["close_last"] is None
    assert b1["open_avg"] == 20.0 and b1["close_last"] == 21.0
    assert b0["bucket"] == parse_time_ns(t0)
    assert b1["bucket"] == parse_time_ns(t0) + 60 * NS

    # after compact, same answers without the dedup aggregate
    tdb.compact("db1")
    assert tdb.get("db1", "idx", t0) == {"open": 99.0}
    assert tdb.db_info("db1")["indexes"] == ["idx"]


def test_nunit_buckets_and_range(tmp_path, spark):
    tdb = _mk(tmp_path, spark)
    docs = [
        {"time": f"2016-08-01T00:{m:02d}:00Z", "index": "g", "value": {"v": float(m)}}
        for m in range(10)
    ]
    tdb.put("db1", docs)
    # 2-minute from-anchored buckets over [00:01, 00:09) → anchor 00:01 (D4)
    out = tdb.query(
        "db1",
        {
            "index": "g",
            "from": "2016-08-01T00:01:00Z",
            "to": "2016-08-01T00:09:00Z",
            "group": "2minutes",
            "fields": {"v": "sum"},
        },
    ).collect()
    anchor = parse_time_ns("2016-08-01T00:01:00Z")
    assert [(r["bucket"] - anchor) // (60 * NS) for r in out] == [0, 2, 4, 6]
    assert [r["v_sum"] for r in out] == [1 + 2, 3 + 4, 5 + 6, 7 + 8]
    # to-bound enforced (B3 fixed): minute 9 excluded


def test_reducers_match_semantics(tmp_path, spark):
    tdb = _mk(tmp_path, spark)
    tdb.put(
        "db1",
        [
            {"time": "2016-08-01T00:00:01Z", "index": "r", "value": {"a": 5.0, "b": 1.0}},
            {"time": "2016-08-01T00:00:02Z", "index": "r", "value": {"a": 3.0}},
            {"time": "2016-08-01T00:00:03Z", "index": "r", "value": {"a": 4.0, "b": 2.0}},
        ],
    )
    out = tdb.query(
        "db1",
        {
            "index": "r",
            "from": "2016-08-01T00:00:00Z",
            "to": "2016-08-01T00:01:00Z",
            "group": "minute",
            "fields": {"a": "min", "b": "first"},
        },
    ).collect()[0]
    assert out["a_min"] == 3.0  # B6 fixed: true min
    assert out["b_first"] == 1.0  # earliest point where b present
    out2 = tdb.query(
        "db1",
        {
            "index": "r",
            "from": "2016-08-01T00:00:00Z",
            "to": "2016-08-01T00:01:00Z",
            "group": "minute",
            "fields": {"b": "count"},
        },
    ).collect()[0]
    assert out2["b_count"] == 2  # B4 fixed: true count of non-null b


def test_range_delete(tmp_path, spark):
    tdb = _mk(tmp_path, spark)
    # each day holds v=d at noon and 0-valued points around it, put in
    # falling time order
    docs = [
        {"time": f"2016-08-0{d}T{h:02d}:00:00Z", "index": "del",
         "value": {"v": float(d) if h == 12 else 0.0}}
        for d in range(1, 6) for h in (23, 12, 6, 1)
    ]
    tdb.put("db1", docs)
    # interior delete [day2, day4 03:00) → days 2,3 gone (half-open, D7),
    # day 4 rewritten without its 01:00 point
    tdb.delete("db1", "del", "2016-08-02T00:00:00Z", "2016-08-04T03:00:00Z")
    day4 = tmp_path / "warehouse" / "db1" / "ticks" / "series=del" / "dt=2016-08-04"
    assert _unsorted_files(day4) == []
    left = sorted(r["v_sum"] for r in tdb.query(
        "db1",
        {
            "index": "del",
            "from": "2016-08-01T00:00:00Z",
            "to": "2016-09-01T00:00:00Z",
            "group": "day",
            "fields": {"v": "sum"},
        },
    ).collect())
    assert left == [1.0, 4.0, 5.0]
    # delete matching nothing is a no-op
    tdb.delete("db1", "del", "2017-01-01T00:00:00Z", "2017-02-01T00:00:00Z")
    assert tdb.get("db1", "del", "2016-08-01T12:00:00Z") == {"v": 1.0}


def test_drop_index(tmp_path, spark):
    tdb = _mk(tmp_path, spark)
    tdb.put("db1", [{"time": "2016-08-01T00:00:00Z", "index": "s1", "value": {"x": 1.0}},
                    {"time": "2016-08-01T00:00:00Z", "index": "s2", "value": {"x": 2.0}}])
    assert tdb.db_info("db1")["indexes"] == ["s1", "s2"]
    tdb.drop_index("db1", "s1")
    assert tdb.db_info("db1")["indexes"] == ["s2"]
    assert tdb.get("db1", "s2", "2016-08-01T00:00:00Z") == {"x": 2.0}


def test_escaped_series_names(tmp_path, spark):
    """Spark stores series ``a:b`` in ``series=a%3Ab``: listing, range
    delete, expiry and index drop all take and return the decoded name."""
    from tickdb_spark.ingest import expire_before

    tdb = _mk(tmp_path, spark)
    tdb.put("db1", [
        *({"time": f"2016-08-0{d}T12:00:00Z", "index": "a:b", "value": {"v": float(d)}}
          for d in (1, 2, 3)),
        *({"time": f"2016-08-0{d}T12:00:00Z", "index": "plain", "value": {"v": 9.0}}
          for d in (1, 3)),
    ])
    assert tdb.db_info("db1")["indexes"] == ["a:b", "plain"]
    tdb.delete("db1", "a:b", "2016-08-02T00:00:00Z", "2016-08-03T00:00:00Z")
    assert tdb.get("db1", "a:b", "2016-08-02T12:00:00Z") is None
    assert tdb.get("db1", "a:b", "2016-08-03T12:00:00Z") == {"v": 3.0}
    dropped = expire_before(spark, tdb.catalog._existing("db1"), "2016-08-02T00:00:00Z")
    assert sorted(dropped) == [("a:b", "2016-08-01"), ("plain", "2016-08-01")]
    tdb.drop_index("db1", "a:b")
    assert tdb.db_info("db1")["indexes"] == ["plain"]
    assert [(r["series"], r["ts"]) for r in tdb.ticks("db1").collect()] == [
        ("plain", parse_time_ns("2016-08-03T12:00:00Z"))
    ]


def test_compact_keeps_a_series_name_that_reads_as_a_number(tmp_path, spark):
    """``compact`` rewrites series ``007`` under its own name, not as the
    integer ``7`` Spark would infer from ``series=007``."""
    tdb = _mk(tmp_path, spark)
    for v in (1.0, 2.0):
        tdb.put("db1", [{"time": "2016-08-01T12:00:00Z", "index": "007", "value": {"v": v}}])
    tdb.compact("db1")
    assert tdb.db_info("db1")["indexes"] == ["007"]
    assert tdb.get("db1", "007", "2016-08-01T12:00:00Z") == {"v": 2.0}


def test_a_series_name_that_reads_as_a_number_stays_a_string(tmp_path, spark):
    """The default read path keeps series ``007`` a string; an inferred
    partition type would read ``series=007`` back as the integer 7."""
    from pyspark.sql import types as T

    tdb = _mk(tmp_path, spark)
    tdb.put("db1", [{"time": "2016-08-01T12:00:00Z", "index": "007", "value": {"v": 1.0}}])
    ticks = tdb.ticks("db1")
    assert ticks.schema["series"].dataType == T.StringType()
    assert [r.series for r in ticks.select("series").collect()] == ["007"]
    assert tdb.get("db1", "007", "2016-08-01T12:00:00Z") == {"v": 1.0}


def test_dirty_partitions_ignore_the_writer_clock(tmp_path, spark, monkeypatch):
    """Append dirty tracking reads no clock: with the writer's clock an
    hour ahead of the filesystem's, a batch that crosses midnight still
    marks both of its days dirty."""
    import time

    from tickdb_spark.ingest import manifest

    tdb = _mk(tmp_path, spark)
    real = time.time
    with monkeypatch.context() as m:
        m.setattr(time, "time", lambda: real() + 3600)
        tdb.put("db1", [
            {"time": "2016-08-01T23:59:00Z", "index": "s", "value": {"v": 1.0}},
            {"time": "2016-08-02T00:01:00Z", "index": "s", "value": {"v": 2.0}},
        ])
    meta = manifest(tdb.catalog._existing("db1"))
    assert meta["dirty"] == [["s", "2016-08-01"], ["s", "2016-08-02"]]


def test_sql_surface(tmp_path, spark):
    tdb = _mk(tmp_path, spark, "sq")
    tdb.put(
        "sq",
        [
            {"time": f"2016-08-01T00:0{m}:00Z", "index": "a", "value": {"v": float(m)}}
            for m in range(5)
        ],
    )
    out = tdb.sql(
        "sq",
        """
        SELECT series, count(*) AS n, sum(value['v']) AS total,
               max(ts) - min(ts) AS span_ns
        FROM ticks GROUP BY series
        """,
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 5 and r["total"] == 10.0 and r["span_ns"] == 4 * 60 * 10**9


def test_bucket_edges_f4(tmp_path, spark):
    """FIXTURES.md F4: leap day, exact boundaries, 23:59:59.999999 vs
    next-midnight neighbors, mid-bucket from/to, from == to."""
    tdb = _mk(tmp_path, spark, "edge")
    docs = [
        {"time": "2016-01-01T00:00:00Z", "index": "e", "value": {"v": 1.0}},
        {"time": "2016-02-29T00:00:00Z", "index": "e", "value": {"v": 1.0}},  # leap day
        {"time": "2016-02-29T23:59:59.999999Z", "index": "e", "value": {"v": 1.0}},
        {"time": "2016-03-01T00:00:00Z", "index": "e", "value": {"v": 1.0}},
        {"time": "2016-03-13T07:30:00Z", "index": "e", "value": {"v": 1.0}},  # US DST moment
    ]
    tdb.put("edge", docs)

    days = tdb.query("edge", {
        "index": "e", "from": "2016-01-01T00:00:00Z", "to": "2017-01-01T00:00:00Z",
        "group": "day", "fields": {"v": "count"}}).collect()
    got = {r["bucket"]: r["v_count"] for r in days}
    assert got == {
        parse_time_ns("2016-01-01T00:00:00Z"): 1,
        parse_time_ns("2016-02-29T00:00:00Z"): 2,  # leap day holds both
        parse_time_ns("2016-03-01T00:00:00Z"): 1,
        parse_time_ns("2016-03-13T00:00:00Z"): 1,  # UTC day regardless of DST
    }

    # months: February bucket exists and ends before March
    months = tdb.query("edge", {
        "index": "e", "from": "2016-01-01T00:00:00Z", "to": "2017-01-01T00:00:00Z",
        "group": "month", "fields": {"v": "count"}}).collect()
    got_m = {r["bucket"]: r["v_count"] for r in months}
    assert got_m[parse_time_ns("2016-02-01T00:00:00Z")] == 2

    # mid-bucket from: point at 00:00:00 is excluded, partial day still buckets at midnight
    part = tdb.query("edge", {
        "index": "e", "from": "2016-02-29T12:00:00Z", "to": "2016-03-02T00:00:00Z",
        "group": "day", "fields": {"v": "count"}}).collect()
    assert {r["bucket"]: r["v_count"] for r in part} == {
        parse_time_ns("2016-02-29T00:00:00Z"): 1,
        parse_time_ns("2016-03-01T00:00:00Z"): 1,
    }

    # from == to → empty
    assert tdb.query("edge", {
        "index": "e", "from": "2016-02-29T00:00:00Z", "to": "2016-02-29T00:00:00Z",
        "group": "day", "fields": {"v": "count"}}).count() == 0


def test_compaction_collapses_files_and_preserves_results(tmp_path, spark):
    """compact() must (a) shrink the per-partition file spray from
    multi-batch appends back to one file per (series, dt) in the table
    its manifest lists, and (b) leave
    query results bit-identical while flipping reads to the clean
    (no-dedup-shuffle) path."""
    import os

    from pyspark.sql import functions as F

    from tickdb_spark.ingest import append_batch, compact, read_ticks

    db = str(tmp_path / "db")
    os.makedirs(db)
    rows = [  # hourly points in scrambled order; rows[0] is the earliest
        ("A", (1704067200 + (i * 7 % 48) * 3600) * 10**9, None, {"v": float(i)})
        for i in range(48)
    ]
    ticks = spark.createDataFrame(
        rows, "series string, ts long, ts_utc timestamp, value map<string,double>"
    ).withColumn("ts_utc", F.timestamp_micros(F.expr("ts div 1000")))
    for k in range(4):  # interleaved appends -> 4 files per (series, dt)
        append_batch(db, ticks.where(F.expr("(ts div 3600000000000) % 4") == k))
    # one LWW overwrite batch
    append_batch(db, ticks.where(F.col("ts") == rows[0][1]).withColumn(
        "value", F.create_map(F.lit("v"), F.lit(99.0))))
    assert _unsorted_files(f"{db}/ticks") == []

    def files():
        return _table_files(db)

    def state():
        return sorted(
            (r["series"], r["ts"], dict(r["value"]))
            for r in read_ticks(spark, db).collect()
        )

    before_files, before_state = len(files()), state()
    # keep one dedup task per shuffle partition, as at scale, so the
    # files' ts order cannot come from Spark merging them into one
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        compact(spark, db)
    finally:
        spark.conf.set(key, coalesce)
    after_files, after_state = len(files()), state()
    assert before_files > after_files, (before_files, after_files)
    assert after_files == 2  # 48 hourly points span 2 days -> 2 partitions
    assert _unsorted_files(f"{db}/ticks") == []
    assert after_state == before_state
    assert after_state[0][2] == {"v": 99.0}  # LWW overwrite materialized


def test_evolved_columns_survive_delete_and_compact(tmp_path, spark):
    """A column only some batches carry stays with its rows through every
    rewrite: ``delete_range`` and ``compact`` keep it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tickdb_spark.ingest import append_batch, compact, delete_range, read_ticks

    db = str(tmp_path / "db")
    t0 = parse_time_ns("2016-08-01T12:00:00Z")
    evolved = T.StructType([T.StructField("src", T.StringType())])

    def put(points, src):
        append_batch(db, spark.createDataFrame(
            [("s", ts, {"v": v}) for ts, v in points],
            "series string, ts long, value map<string,double>",
        ).withColumn("src", F.lit(src)))

    def srcs():
        return sorted(
            (r["ts"], r["src"])
            for r in read_ticks(spark, db, evolved_fields=evolved).collect()
        )

    put([(t0, 1.0), (t0 + NS, 2.0)], "web")
    delete_range(spark, db, "s", t0, t0 + 1)
    assert srcs() == [(t0 + NS, "web")]
    put([(t0 + 2 * NS, 3.0)], "app")
    compact(spark, db)
    assert srcs() == [(t0 + NS, "web"), (t0 + 2 * NS, "app")]


def test_files_that_store_ts_utc_read_as_before(tmp_path, spark):
    """A warehouse in the older layout, whose files also store ``ts_utc``
    and which has no manifest, reads like one written now, in clean and
    dedup mode, also after a newer append: its first read lists it into
    manifest 0, with ``next_seq`` after the highest stored batch.
    ``compact`` rewrites it without that column."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tickdb_spark.ingest import append_batch, compact, manifest, read_ticks
    from tickdb_spark.schema import ns_to_dt, ns_to_ts

    t0 = parse_time_ns("2016-08-01T23:00:00Z")  # the points cross midnight
    batches = [
        [("s", t0 + i * 1800 * NS, {"v": float(i)}) for i in range(4)],
        [("s", t0 + 1800 * NS, {"v": 9.0}), ("t", t0, {"v": 5.0})],  # one LWW upsert
    ]
    old_db, new_db = str(tmp_path / "old"), str(tmp_path / "new")
    for seq, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "series string, ts long, value map<string,double>")
        append_batch(new_db, df)
        df.select(
            "series", "ts", ns_to_ts(F.col("ts")).alias("ts_utc"), "value",
            F.lit(seq).cast("long").alias("ingest_seq"), ns_to_dt(F.col("ts")).alias("dt"),
        ).write.mode("append").partitionBy("series", "dt").parquet(f"{old_db}/ticks")

    def files(db):
        return _table_files(db)

    def view(db, **kw):
        df = read_ticks(spark, db, **kw)
        assert df.columns == ["series", "ts", "ts_utc", "value", "dt"]
        return sorted(
            (r["series"], r["ts"], r["us"], tuple(sorted(r["value"].items())), r["dt"])
            for r in df.withColumn("us", F.unix_micros("ts_utc")).collect()
        )

    assert all("ts_utc" in pq.read_schema(f).names for f in files(old_db))
    for dedup in (False, True):
        assert view(old_db, dedup=dedup) == view(new_db, dedup=dedup)
    assert manifest(old_db)["next_seq"] == len(batches)
    later = spark.createDataFrame(
        [("s", t0, {"v": 7.0})], "series string, ts long, value map<string,double>"
    )
    for db in (old_db, new_db):
        append_batch(db, later)
    assert view(old_db) == view(new_db)
    compact(spark, old_db)
    assert files(old_db) and not any("ts_utc" in pq.read_schema(f).names for f in files(old_db))
    assert view(old_db) == view(new_db)


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from tickdb_spark.operators.skew import salted_join

    big = spark.range(2000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("rid")
    )
    small = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    got = sorted(
        (r["k"], r["rid"], r["w"]) for r in salted_join(big, small, ["k"], salts=7).collect()
    )
    want = sorted((r["k"], r["rid"], r["w"]) for r in big.join(small, "k").collect())
    assert got == want
    # left join keeps unmatched big rows exactly once
    small2 = small.where(F.col("k") < 3)
    got_l = sorted(
        (r["k"], r["rid"], r["w"])
        for r in salted_join(big, small2, ["k"], salts=4, how="left").collect()
    )
    want_l = sorted(
        (r["k"], r["rid"], r["w"]) for r in big.join(small2, "k", "left").collect()
    )
    assert got_l == want_l
    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_join(big, small, ["k"], how="full")


def test_gapfill_interp_fills_between_anchors_only(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from tickdb_spark.operators.timeseries import gapfill_interp

    bucketed = spark.createDataFrame(
        [(100, 10.0), (130, 40.0), (150, 20.0)], "bucket long, v double"
    )
    out = {
        r["bucket"]: (r["v"], r["n_obs"])
        for r in gapfill_interp(bucketed, 90, 170, 10, ["v"]).collect()
    }
    assert out[100] == (10.0, 1) and out[130] == (40.0, 1) and out[150] == (20.0, 1)
    assert out[110] == (20.0, 0) and out[120] == (30.0, 0)  # linear 10->40
    assert out[140] == (30.0, 0)  # linear 40->20
    assert out[90] == (None, 0) and out[160] == (None, 0)  # unanchored edges


def test_time_travel_snapshots_and_truncation(tmp_path, spark):
    import pytest as _pytest

    from tickdb_spark.api import TickDB
    from tickdb_spark.ingest import read_ticks

    tdb = TickDB(spark, str(tmp_path))
    tdb.create_db("tt")
    db_path = tdb.catalog._existing("tt")
    tdb.put("tt", [
        {"time": "2024-03-01T00:00:00Z", "index": "m", "value": {"p": 1.0}},
        {"time": "2024-03-01T01:00:00Z", "index": "m", "value": {"p": 2.0}},
    ])  # seq 0
    tdb.put("tt", [
        {"time": "2024-03-01T00:00:00Z", "index": "m", "value": {"p": 10.0}},  # upsert
        {"time": "2024-03-01T02:00:00Z", "index": "m", "value": {"p": 3.0}},   # new
    ])  # seq 1

    def vals(df):
        return {r["ts"]: r["value"]["p"] for r in df.collect()}

    # snapshot 0: pre-upsert state
    assert vals(read_ticks(spark, db_path, as_of_seq=0)) == {
        1709251200000000000: 1.0, 1709254800000000000: 2.0}
    # snapshot 1 == current
    assert vals(read_ticks(spark, db_path, as_of_seq=1)) == vals(tdb.ticks("tt"))
    assert vals(tdb.ticks("tt", as_of_seq=1))[1709251200000000000] == 10.0
    # query() accepts the snapshot too
    q = tdb.query("tt", {"index": "m", "from": "2024-03-01T00:00:00Z",
                         "to": "2024-03-02T00:00:00Z", "group": "day",
                         "fields": {"p": "sum"}}, as_of_seq=0).collect()
    assert q[0]["p_sum"] == 3.0
    # compaction truncates history: old snapshots refuse, latest still works
    tdb.compact("tt")
    with _pytest.raises(ValueError, match="truncated"):
        read_ticks(spark, db_path, as_of_seq=0)
    assert vals(read_ticks(spark, db_path, as_of_seq=1))[1709258400000000000] == 3.0


def test_gapfill_chunked_carry_exact_across_boundaries(spark, monkeypatch):
    """Shrink the chunk size so the fill crosses many chunk boundaries and
    whole chunks are empty; LOCF and interp must still equal the
    single-window semantics (two-phase carry is exact for any contiguous
    chunking)."""
    from tickdb_spark.operators import timeseries as ts

    monkeypatch.setattr(ts, "_CHUNK_BUCKETS", 4)
    # spine 0..40 step 10 => 24 buckets across 6 chunks; observations in
    # chunks 0 and 4 only (chunks 1-3 fully empty => carry must hop them).
    bucketed = spark.createDataFrame(
        [(10, 1.0), (180, 18.0), (230, 23.0)], "bucket long, v double"
    )
    locf = {
        r["bucket"]: (r["v"], r["n_obs"])
        for r in ts.gapfill_locf(bucketed, 0, 240, 10, ["v"]).collect()
    }
    assert locf[0] == (None, 0)
    assert locf[10] == (1.0, 1)
    for b in range(20, 180, 10):  # carried across empty chunks
        assert locf[b] == (1.0, 0), b
    assert locf[180] == (18.0, 1)
    assert locf[190] == (18.0, 0) and locf[230] == (23.0, 1)

    interp = {
        r["bucket"]: (r["v"], r["n_obs"])
        for r in ts.gapfill_interp(bucketed, 0, 240, 10, ["v"]).collect()
    }
    assert interp[0] == (None, 0)
    for b in range(20, 180, 10):  # linear 1.0@10 -> 18.0@180
        exp = 1.0 + (18.0 - 1.0) * (b - 10) / (180 - 10)
        assert abs(interp[b][0] - exp) < 1e-12 and interp[b][1] == 0, b
    assert interp[200] == (18.0 + (23.0 - 18.0) * 20 / 50, 0)


def test_snapshot_diff_classifies_all_three_changes(tmp_path, spark):
    """Plant one added, one removed (via a rewriting compact? no —
    removal here means 'present at seq_a, absent later', which only a
    rewrite produces; between two APPEND-only seqs 'removed' is
    impossible and the test proves exactly that), and one changed row,
    then diff seq 0 vs seq 1."""
    from pyspark.sql import functions as F

    from tickdb_spark.ingest import append_batch, snapshot_diff
    from tickdb_spark.schema import ns_to_ts

    db = str(tmp_path / "db")
    import os

    os.makedirs(db)

    def batch(rows):
        df = spark.createDataFrame(rows, "series string, ts long, value map<string,double>")
        return df.withColumn("ts_utc", ns_to_ts(F.col("ts")))

    t0 = 1_700_000_000_000_000_000
    append_batch(db, batch([("a", t0, {"v": 1.0}), ("a", t0 + 1, {"v": 2.0})]))
    append_batch(
        db,
        batch([("a", t0, {"v": 9.0}), ("a", t0 + 2, {"v": 3.0})]),  # upsert + new
    )
    d = {(r.ts, r.change) for r in snapshot_diff(spark, db, 0, 1).collect()}
    assert d == {(t0, "changed"), (t0 + 2, "added")}
    # unchanged row (t0+1) must NOT appear; append-only history can
    # never produce 'removed'
    vals = {
        r.ts: (r.value_a, r.value_b) for r in snapshot_diff(spark, db, 0, 1).collect()
    }
    assert vals[t0] == ({"v": 1.0}, {"v": 9.0})
    assert vals[t0 + 2] == (None, {"v": 3.0})
    # identical snapshots diff to empty
    assert snapshot_diff(spark, db, 1, 1).count() == 0


def _table_files(db, table="ticks"):
    """A table's data files as the database's newest manifest lists them."""
    from tickdb_spark.ingest import manifest

    return [f"{db}/{f['path']}" for f in manifest(db)["tables"].get(table, [])]


def _crash_at_publish(m, published):
    """Crash a commit at its publish, after its data files are written:
    before the manifest's link (``published=0``: nothing commits) or
    right after it (``published=1``: the commit is in, deleting the files
    it drops is not)."""
    import tickdb_spark.ingest as ing

    real = ing.os.link

    def link(*a, **kw):
        if published:
            real(*a, **kw)
        raise RuntimeError("injected crash")

    m.setattr(ing.os, "link", link)


def _crash_in_deletion(m, db, removals):
    """With no grace period, crash a commit after ``removals`` removals
    of the data and checksum files it drops."""
    import tickdb_spark.ingest as ing

    m.setattr(ing, "GRACE_S", 0.0)
    real, calls = ing.os.remove, {"k": 0}

    def remove(path):
        if path.startswith(db) and ing.MANIFEST_DIR not in path:
            if calls["k"] >= removals:
                raise RuntimeError("injected crash")
            calls["k"] += 1
        return real(path)

    m.setattr(ing.os, "remove", remove)


def _orphans(db):
    """Data files on disk that the newest manifest neither lists nor
    holds for deletion."""
    import glob

    from tickdb_spark.ingest import manifest

    m = manifest(db)
    known = {f["path"] for fs in m["tables"].values() for f in fs}
    known |= {g["path"] for g in m["garbage"]}
    on_disk = glob.glob(f"{db}/**/*.parquet", recursive=True)
    return sorted(p for p in on_disk if p[len(db) + 1:] not in known)


def _mk_crash_db(tmp_path, spark):
    import os as _os

    from pyspark.sql import functions as F

    from tickdb_spark.ingest import append_batch

    db = str(tmp_path / "db")
    _os.makedirs(db)
    rows = [
        ("A", (1704067200 + i * 3600) * 10**9, None, {"v": float(i)})
        for i in range(72)  # 3 days of hourly points -> 3 dt partitions
    ]
    ticks = spark.createDataFrame(
        rows, "series string, ts long, ts_utc timestamp, value map<string,double>"
    ).withColumn("ts_utc", F.timestamp_micros(F.expr("ts div 1000")))
    append_batch(db, ticks)
    # one LWW overwrite so compact has real work to do
    append_batch(
        db,
        ticks.where(F.col("ts") == rows[0][1]).withColumn(
            "value", F.create_map(F.lit("v"), F.lit(99.0))
        ),
    )
    return db, rows


def _state(spark, db):
    from tickdb_spark.ingest import read_ticks

    return sorted(
        (r["series"], r["ts"], dict(r["value"]))
        for r in read_ticks(spark, db).collect()
    )


@pytest.mark.parametrize("published", [0, 1])
def test_compact_crash_midswap_recovers(tmp_path, spark, monkeypatch, published):
    """Kill compact at its publish, after the compacted files are
    written: before the manifest's link, reads see exactly the old
    table and a rerun compacts it; after the link, reads see exactly the
    compacted one. No recovery step runs either way."""
    import tickdb_spark.ingest as ing

    db, _rows = _mk_crash_db(tmp_path, spark)
    expected = _state(spark, db)
    old = ing.manifest(db)

    with monkeypatch.context() as m:
        _crash_at_publish(m, published)
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.compact(spark, db)
    assert _state(spark, db) == expected  # LWW view: same rows either way
    meta = ing.manifest(db)
    assert meta["n"] == old["n"] + published
    assert meta["clean"] is bool(published)  # the linked compact COMMITTED
    assert bool(_orphans(db)) is not bool(published)  # unlinked files stay unread
    # and the system keeps working after the crash
    ing.compact(spark, db)
    assert _state(spark, db) == expected
    assert ing.manifest(db)["clean"] is True
    assert _orphans(db) == []


@pytest.mark.parametrize("published", [0, 1])
def test_delete_range_crash_midswap_recovers(tmp_path, spark, monkeypatch, published):
    """Kill delete_range at its publish, after the survivors of the
    affected days are written. Before the link, reads see every old row;
    after it, the post-delete table, never a state where a kept row of an
    affected partition is missing. A rerun ends where one uninterrupted
    delete does."""
    import tickdb_spark.ingest as ing

    db, rows = _mk_crash_db(tmp_path, spark)
    # range: last 12h of day 1 .. first 12h of day 3 -> day 2 is a PURE
    # delete (no survivors), days 1 and 3 get rewritten survivors
    frm = rows[12][1]
    to = rows[60][1]
    before = _state(spark, db)
    expected = sorted(
        (s, ts, v if ts != rows[0][1] else {"v": 99.0})
        for (s, ts, _t, v) in rows
        if not (frm <= ts < to)
    )

    with monkeypatch.context() as m:
        _crash_at_publish(m, published)
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.delete_range(spark, db, "A", frm, to)
    assert _state(spark, db) == (expected if published else before)
    ing.delete_range(spark, db, "A", frm, to)
    assert _state(spark, db) == expected
    # day 2 has no file left; days 1/3 hold their survivors
    assert sorted({f["dt"] for f in ing.manifest(db)["tables"]["ticks"]}) == [
        "2024-01-01", "2024-01-03"
    ]
    assert _orphans(db) == []
    # dirty partitions recorded in the manifest
    dirty = {tuple(t) for t in ing.manifest(db)["dirty"]}
    assert ("A", "2024-01-02") in dirty


def test_crash_during_staging_leaves_table_untouched(tmp_path, spark, monkeypatch):
    """A crash after a rewrite's data write and before its publish must
    leave what readers see untouched: no new manifest, reads serve the
    old state from the old files."""
    import tickdb_spark.ingest as ing

    db, rows = _mk_crash_db(tmp_path, spark)
    before = _state(spark, db)
    old = ing.manifest(db)

    with monkeypatch.context() as m:
        _crash_at_publish(m, 0)
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.delete_range(spark, db, "A", rows[12][1], rows[60][1])
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.compact(spark, db)
    assert ing.manifest(db) == old
    assert _state(spark, db) == before


def test_expire_before_downsampled_retention_and_crash(tmp_path, spark, monkeypatch):
    """Retention lifecycle: expire_before drops whole days (a file-list
    edit, no rewrite), rollups built over them keep answering
    (downsampled retention — expiry must NOT dirty the rollup), raw
    reads see only the retained tail, also when a crash stops the
    deletion of the dropped files after the first one."""
    import tickdb_spark.ingest as ing
    from tickdb_spark.rollup import RollupStore, route_tick_query

    db, rows = _mk_crash_db(tmp_path, spark)  # 3 days of hourly points
    RollupStore(spark, db).refresh(("minute", "hour", "day"))
    day_q = {
        "index": "A",
        "from": "2024-01-01T00:00:00Z",
        "to": "2024-01-04T00:00:00Z",
        "group": "day",
        "fields": {"v": ["sum", "count"]},
        "exact": True,
    }
    before = {r["bucket"]: (r["v_sum"], r["v_count"])
              for r in route_tick_query(spark, db, day_q).collect()}
    assert len(before) == 3

    # crash mid-deletion (after the first removal): the expiry committed
    with monkeypatch.context() as m:
        _crash_in_deletion(m, db, 1)
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.expire_before(spark, db, "2024-01-03T00:00:00Z")
    raw_days = sorted(
        {r["ts"] // (86_400 * 10**9) for r in ing.read_ticks(spark, db).collect()}
    )
    assert raw_days == [19725]  # only 2024-01-03 remains raw
    assert ing.manifest(db)["expired_before_ns"] > 0

    # rollup-served day query still covers the FULL range, bit-identical
    after = {r["bucket"]: (r["v_sum"], r["v_count"])
             for r in route_tick_query(spark, db, day_q).collect()}
    assert after == before

    # idempotent re-run: nothing left to drop
    assert ing.expire_before(spark, db, "2024-01-03T00:00:00Z") == []


def _raw_rows(df):
    return sorted(
        (r["series"], r["ts"], tuple(sorted(r["value"].items()))) for r in df.collect()
    )


def _assert_scan_is_fresh(spark, db):
    """The reused base scan reads exactly what an uncached read of the
    newest manifest's files reads."""
    from tickdb_spark.ingest import read_ticks

    reused = read_ticks(spark, db, dedup=False)
    fresh = spark.read.option("basePath", f"{db}/ticks").parquet(*_table_files(db))
    assert _raw_rows(reused) == _raw_rows(fresh)


def test_scan_reuse_follows_every_write_kind(tmp_path, spark, monkeypatch):
    """Each read after a write of every kind sees the write: the scan is
    reused only while the table's data-file set is unchanged."""
    import tickdb_spark.ingest as ing

    tdb = _mk(tmp_path, spark)
    db = tdb.catalog._existing("db1")

    def put(day, series="s", v=1.0):
        tdb.put("db1", [{"time": f"2016-08-0{day}T12:00:00Z", "index": series,
                         "value": {"v": v}}])

    put(1)
    put(2, "t")
    _assert_scan_is_fresh(spark, db)
    put(3)  # new partition
    _assert_scan_is_fresh(spark, db)
    put(3, v=2.0)  # existing partition
    _assert_scan_is_fresh(spark, db)
    ing.delete_range(spark, db, "s", "2016-08-03T00:00:00Z", "2016-08-04T00:00:00Z")
    _assert_scan_is_fresh(spark, db)
    ing.compact(spark, db)
    _assert_scan_is_fresh(spark, db)
    ing.expire_before(spark, db, "2016-08-02T00:00:00Z")
    _assert_scan_is_fresh(spark, db)
    put(5)
    _assert_scan_is_fresh(spark, db)
    tdb.drop_index("db1", "t")
    _assert_scan_is_fresh(spark, db)
    put(6)
    _assert_scan_is_fresh(spark, db)
    with monkeypatch.context() as m:
        _crash_at_publish(m, 1)
        with pytest.raises(RuntimeError, match="injected crash"):
            ing.compact(spark, db)
    _assert_scan_is_fresh(spark, db)  # the linked manifest is the commit
    assert sorted(r["ts"] for r in ing.read_ticks(spark, db).collect()) == [
        parse_time_ns(f"2016-08-0{d}T12:00:00Z") for d in (5, 6)
    ]


def test_scan_reuse_holds_one_entry_per_table(tmp_path, spark):
    """A new version replaces the table's old scan; evict_all drops all."""
    from tickdb_spark import cachereg
    from tickdb_spark.ingest import TICKS_DIR, read_ticks

    tdb = _mk(tmp_path, spark)
    db = tdb.catalog._existing("db1")
    table = str(tmp_path / "warehouse" / "db1" / TICKS_DIR)
    for d in range(1, 5):
        tdb.put("db1", [{"time": f"2016-08-0{d}T12:00:00Z", "index": "s",
                         "value": {"v": float(d)}}])
        read_ticks(spark, db)
    assert len([k for k in cachereg._SCANS if k[1] == table]) == 1
    cachereg.evict_all()
    assert cachereg._SCANS == {}


def _jobs(spark, group, fn):
    """Spark jobs ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_an_unchanged_table_runs_no_job(tmp_path, spark):
    """Listing runs once per table version, so a repeated read builds its
    frame without any Spark job. The series spans 33 day directories, more
    than ``parallelPartitionDiscovery.threshold`` (32), so the first read
    lists them in a Spark job; the read schema is fixed, so no job infers
    one."""
    from tickdb_spark.ingest import read_ticks

    tdb = _mk(tmp_path, spark)
    t0, day = parse_time_ns("2016-08-01T12:00:00Z"), 86_400 * 10**9
    tdb.put("db1", [{"time": t0 + d * day, "index": "s", "value": {"v": 1.0}} for d in range(33)])
    db = tdb.catalog._existing("db1")
    assert _jobs(spark, f"first-{db}", lambda: read_ticks(spark, db)) > 0
    assert _jobs(spark, f"second-{db}", lambda: read_ticks(spark, db)) == 0


def test_table_scan_pairs_each_version_with_its_own_frame(spark, monkeypatch):
    """Reader threads racing on version changes each get the frame built
    for the version they listed, never another version's."""
    import sys
    import threading

    from tickdb_spark import cachereg

    monkeypatch.setattr(cachereg, "_SCANS", {})
    wrong = []

    def reader(i):
        for k in range(300):
            v = (i + k) % 3
            got = cachereg.table_scan(spark, ("stress",), v, lambda v=v: ("frame", v))
            if got != ("frame", v):
                wrong.append((v, got))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(cachereg._SCANS) == 1


@pytest.mark.parametrize("removals_before_crash", [None, 1, 2, 3])
def test_deleting_every_tick_of_a_series_drops_it_from_the_catalog(
    tmp_path, spark, monkeypatch, removals_before_crash
):
    """A delete that empties every partition of a series drops it from
    the catalog, also when a crash stops the deletion of its files
    (after 1, 2 or 3 of its data and checksum files are removed, with no
    grace period): the commit already happened."""
    import tickdb_spark.ingest as ing

    tdb = _mk(tmp_path, spark)
    tdb.put("db1", [
        {"time": f"2016-08-0{d}T12:00:00Z", "index": s, "value": {"v": float(d)}}
        for d in (1, 2) for s in ("a", "b")
    ])
    db = tdb.catalog._existing("db1")
    assert tdb.db_info("db1")["indexes"] == ["a", "b"]
    frm, to = "2016-08-01T00:00:00Z", "2016-08-03T00:00:00Z"
    if removals_before_crash is None:
        tdb.delete("db1", "b", frm, to)
    else:
        with monkeypatch.context() as m:
            _crash_in_deletion(m, db, removals_before_crash)
            with pytest.raises(RuntimeError, match="injected crash"):
                ing.delete_range(spark, db, "b", frm, to)
    assert tdb.catalog.list_indexes("db1") == ["a"]
    assert tdb.db_info("db1")["indexes"] == ["a"]
    assert tdb.get("db1", "b", "2016-08-01T12:00:00Z") is None
    assert tdb.get("db1", "a", "2016-08-02T12:00:00Z") == {"v": 2.0}


def test_rewrites_keep_a_database_whose_name_holds_an_equals_sign(tmp_path, spark):
    """A database named like a partition dir (``k=v``) survives every
    rewrite: compact replaces its ticks, and a delete or an expiry that
    empties a series drops that series alone."""
    import os as _os

    import tickdb_spark.ingest as ing

    tdb = _mk(tmp_path, spark, "k=v")
    tdb.put("k=v", [
        {"time": f"2016-08-0{d}T12:00:00Z", "index": s, "value": {"v": float(d)}}
        for d in (1, 2, 5) for s in ("a", "b", "c")
    ])
    db = tdb.catalog._existing("k=v")
    ing.compact(spark, db)
    tdb.delete("k=v", "b", "2016-08-01T00:00:00Z", "2016-08-06T00:00:00Z")
    tdb.delete("k=v", "a", "2016-08-01T00:00:00Z", "2016-08-02T00:00:00Z")
    ing.expire_before(spark, db, "2016-08-03T00:00:00Z")
    assert _os.listdir(_os.path.join(db, ing.MANIFEST_DIR))
    assert tdb.db_info("k=v")["indexes"] == ["a", "c"]
    assert tdb.get("k=v", "c", "2016-08-05T12:00:00Z") == {"v": 5.0}
    assert tdb.get("k=v", "a", "2016-08-02T12:00:00Z") is None


@pytest.mark.parametrize("rewrite,writes_before_failure", [
    ("compact", 0), ("delete_range", 0), ("refresh", 0), ("refresh", 2),
])
def test_failed_staging_write_leaves_nothing_behind(
    tmp_path, spark, monkeypatch, rewrite, writes_before_failure
):
    """A rewrite's data write that fails after its output landed changes
    nothing a reader sees, and the rerun removes the files the failed
    one wrote, which no manifest lists."""
    from pyspark.sql.readwriter import DataFrameWriter

    import tickdb_spark.ingest as ing
    from tickdb_spark.rollup import LEVELS, RollupStore

    db, rows = _mk_crash_db(tmp_path, spark)
    store = RollupStore(spark, db)
    store.refresh()

    def seen():
        return _state(spark, db), {u: sorted(map(tuple, store.read(u).collect())) for u in LEVELS}

    before = seen()
    run = {
        "compact": lambda: ing.compact(spark, db),
        "delete_range": lambda: ing.delete_range(spark, db, "A", rows[12][1], rows[60][1]),
        "refresh": store.refresh,
    }[rewrite]
    real, calls = DataFrameWriter.parquet, []

    def failing(self, *a, **kw):
        real(self, *a, **kw)
        calls.append(a)
        if len(calls) > writes_before_failure:
            raise RuntimeError("write failed")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing)
        with pytest.raises(RuntimeError, match="write failed"):
            run()
    assert _orphans(db)
    assert seen() == before
    run()
    assert _orphans(db) == []


def test_each_read_runs_its_fewest_jobs(tmp_path, spark):
    """The post-aggregate work of a read runs in one partition: a
    collected bucket query (raw or routed) runs the aggregate's shuffle
    job and the result job, no range-partitioned sort; a raw range scan
    and a point get (hit or miss) run one job."""
    from tickdb_spark.rollup import RollupStore, route_tick_query

    tdb = _mk(tmp_path, spark)
    # one append into an empty database (a clean table, no dedup), one
    # file per day, so a scan of the series has several splits
    tdb.put("db1", [
        {"time": f"2016-08-0{d}T{h:02d}:00:00Z", "index": "s", "value": {"v": float(h)}}
        for d in (1, 2, 3, 4) for h in (0, 6, 12, 18)
    ])
    db = tdb.catalog._existing("db1")
    RollupStore(spark, db).refresh()
    bucket = {"index": "s", "from": "2016-08-01T00:00:00Z", "to": "2016-08-05T00:00:00Z",
              "group": "day", "fields": {"v": ["sum", "max"]}}
    scan = {**bucket, "fields": {}}
    reads = {
        "raw bucket": (lambda: tdb.query("db1", bucket).collect(), 2),
        "routed bucket": (lambda: route_tick_query(spark, db, bucket).collect(), 2),
        "raw range scan": (lambda: tdb.query("db1", scan).collect(), 1),
        "get hit": (lambda: tdb.get("db1", "s", "2016-08-03T06:00:00Z"), 1),
        "get miss": (lambda: tdb.get("db1", "s", "2016-08-03T07:00:00Z"), 1),
    }
    assert any("/rollups/day/" in f for f in route_tick_query(spark, db, bucket).inputFiles())
    for name, (read, most) in reads.items():
        read()  # the first read of a table version lists it
        group = f"{name}-{db}"
        assert 0 < _jobs(spark, group, read) <= most, name


def test_concurrent_puts_each_get_their_own_seq(tmp_path, spark):
    """Writers take the database's lock: threads putting batches over the
    same keys get distinct ingest_seqs, the table is not marked clean,
    and a read resolves each key to one row, the last batch's."""
    import sys
    import threading

    import tickdb_spark.ingest as ing

    tdb = _mk(tmp_path, spark)
    db = tdb.catalog._existing("db1")
    n = 6
    times = [f"2016-08-0{d}T{h:02d}:00:00Z" for d in (1, 2) for h in range(0, 24, 2)]
    seqs, errors = {}, []

    def put(i):
        try:
            seqs[i] = tdb.put("db1", [
                {"time": t, "index": s, "value": {"v": float(i)}} for t in times for s in "ab"
            ])
        except Exception as e:  # noqa: BLE001 — surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=put, args=(i,)) for i in range(n)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert errors == [] and not any(t.is_alive() for t in threads)
    assert sorted(seqs.values()) == list(range(n))
    meta = ing.manifest(db)
    assert meta["next_seq"] == n
    assert meta["clean"] is False
    rows = tdb.ticks("db1").collect()
    assert len(rows) == len(times) * 2
    last = max(seqs, key=seqs.get)
    assert {r["value"]["v"] for r in rows} == {float(last)}


def test_expiring_every_partition_of_a_series_drops_it_from_the_catalog(tmp_path, spark):
    """The catalog lists the series that still hold raw ticks: expiring
    all of a series' days removes it, while its rollup rows stay
    routable (downsampled retention)."""
    import tickdb_spark.ingest as ing
    from tickdb_spark.rollup import RollupStore, route_tick_query

    tdb = _mk(tmp_path, spark)
    tdb.put("db1", [
        {"time": f"2016-08-0{d}T12:00:00Z", "index": s, "value": {"v": float(d)}}
        for s, d in (("a", 1), ("b", 1), ("a", 5))
    ])
    db = tdb.catalog._existing("db1")
    RollupStore(spark, db).refresh()
    dropped = ing.expire_before(spark, db, "2016-08-03T00:00:00Z")
    assert sorted(dropped) == [("a", "2016-08-01"), ("b", "2016-08-01")]
    assert tdb.db_info("db1")["indexes"] == ["a"]
    day_q = {"index": "b", "from": "2016-08-01T00:00:00Z", "to": "2016-08-02T00:00:00Z",
             "group": "day", "fields": {"v": "sum"}}
    assert [r["v_sum"] for r in route_tick_query(spark, db, day_q).collect()] == [1.0]


DAY = 86_400 * NS
MIDNIGHT = parse_time_ns("2024-01-03T00:00:00Z")


def test_ts_utc_dt_and_day_bucket_follow_integer_division(tmp_path, spark):
    """``ts_utc``, ``dt`` and the day bucket of a tick are what Python
    ``//`` gives, next to midnight, before 1970 and far past 2^53."""
    import datetime as _dt

    from pyspark.sql import functions as F

    tdb = _mk(tmp_path, spark)
    times = [MIDNIGHT - 1, MIDNIGHT, -1, 2**62 + 999]
    tdb.put("db1", [{"time": t, "index": "s", "value": {"v": 1.0}} for t in times])
    rows = tdb.ticks("db1").select("ts", F.unix_micros("ts_utc").alias("us"), "dt").collect()
    epoch = _dt.date(1970, 1, 1)
    assert sorted((r["ts"], r["us"], r["dt"]) for r in rows) == sorted(
        (t, t // 1000, epoch + _dt.timedelta(days=t // DAY)) for t in times
    )
    days = tdb.query("db1", {"index": "s", "from": -DAY, "to": 2**62 + DAY,
                             "group": "day", "fields": {"v": "count"}}).collect()
    assert {r["bucket"]: r["v_count"] for r in days} == {t // DAY * DAY: 1 for t in times}


def test_delete_of_the_last_ns_before_midnight(tmp_path, spark):
    """``delete [midnight - 1 ns, midnight)`` finds that tick's day and
    removes it, and no other tick."""
    tdb = _mk(tmp_path, spark)
    times = [MIDNIGHT - 2, MIDNIGHT - 1, MIDNIGHT, MIDNIGHT + 1]
    tdb.put("db1", [{"time": t, "index": "s", "value": {"v": 1.0}} for t in times])
    tdb.delete("db1", "s", MIDNIGHT - 1, MIDNIGHT)
    assert sorted(r["ts"] for r in tdb.ticks("db1").collect()) == [
        MIDNIGHT - 2, MIDNIGHT, MIDNIGHT + 1
    ]


def _collected(spark, monkeypatch):
    """Every DataFrame collected while the patch is on, in order."""
    frame = type(spark.range(1))
    seen, collect = [], frame.collect

    def record(self):
        seen.append(self)
        return collect(self)

    monkeypatch.setattr(frame, "collect", record)
    return seen


def test_reads_open_only_the_days_they_overlap(tmp_path, spark, monkeypatch):
    """On a clean table of one file per day, a one-day bucket query and
    a GET each open exactly one file; on an unclean table the ``dt``
    filter still reaches the scan, below the dedup aggregate."""
    from tickdb_spark.plans import files_read, partition_filters

    tdb = _mk(tmp_path, spark)
    tdb.put("db1", [
        {"time": f"2016-08-0{d}T{h:02d}:00:00Z", "index": "s", "value": {"v": float(h)}}
        for d in (1, 2, 3, 4) for h in (0, 6, 12, 18)
    ])
    day = {"index": "s", "from": "2016-08-03T00:00:00Z", "to": "2016-08-04T00:00:00Z",
           "group": "hour", "fields": {"v": "sum"}}
    q = tdb.query("db1", day)
    assert [r["v_sum"] for r in q.collect()] == [0.0, 6.0, 12.0, 18.0]
    assert files_read(q) == 1
    seen = _collected(spark, monkeypatch)
    assert tdb.get("db1", "s", "2016-08-03T06:00:00Z") == {"v": 6.0}
    assert files_read(seen[-1]) == 1
    monkeypatch.undo()

    tdb.put("db1", [{"time": "2016-08-03T06:00:00Z", "index": "s", "value": {"v": 60.0}}])
    q = tdb.query("db1", day)
    assert "Aggregate" in q._jdf.queryExecution().logical().toString()  # dedup path
    assert [r["v_sum"] for r in q.collect()] == [0.0, 60.0, 12.0, 18.0]
    (pf,) = partition_filters(q)
    assert "dt" in pf
    assert files_read(q) == 2  # 08-03's two files: the first batch's and the upsert's


@pytest.mark.parametrize("spec", [
    pytest.param({}, id="raw"),
    pytest.param({"v": ["sum", "count", "first"]}, id="bucket"),
    pytest.param({"v": "ma:2"}, id="ma"),
])
def test_pruned_reads_equal_unpruned_reads_at_day_edges(tmp_path, spark, spec):
    """A read pruned by ``dt`` answers what the same read over the
    unpruned view answers, with ``from``/``to`` at midnight, 1 ns on
    either side of it and before 1970, on a clean and an unclean table."""
    from tickdb_spark.ingest import read_ticks
    from tickdb_spark.tickquery import run_tick_query

    tdb = _mk(tmp_path, spark)
    times = [m + d for m in (-DAY, 0, MIDNIGHT) for d in (-2, -1, 0, 1, 3_600 * NS)]
    docs = [{"time": t, "index": "s", "value": {"v": float(i)}} for i, t in enumerate(times)]
    db = tdb.catalog._existing("db1")
    windows = [
        w for m in (0, MIDNIGHT) for e in (m - 1, m, m + 1) for w in ((e, m + DAY), (m - DAY, e))
    ]
    for batch in (docs, docs[::3]):  # the second put makes the table unclean
        tdb.put("db1", batch)
        ticks = read_ticks(spark, db)
        for f, t in windows:
            q = {"index": "s", "from": f, "to": t, "group": "hour", "fields": spec}
            pruned = [tuple(r) for r in run_tick_query(ticks, q).collect()]
            unpruned = [tuple(r) for r in run_tick_query(ticks.drop("dt"), q).collect()]
            assert pruned == unpruned, (f, t)
            if not spec:
                assert [r[0] for r in pruned] == [x for x in sorted(times) if f <= x < t]
