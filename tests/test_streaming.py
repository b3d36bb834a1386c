"""Structured Streaming: file-source doc stream → warehouse ingest parity
with batch ingest; watermarked windowed aggregation with late data."""

from __future__ import annotations

import json

import pytest

from tickdb_spark.api import TickDB
from tickdb_spark.streaming.ingest import stream_ingest, windowed_bucket_agg


def _write_batch(landing, name, docs):
    (landing / name).write_text("\n".join(json.dumps(d) for d in docs))


def test_stream_ingest_matches_batch(tmp_path, spark):
    landing = tmp_path / "landing"
    landing.mkdir()
    docs1 = [
        {"time": "2024-03-01T10:00:00Z", "index": "st", "value": {"p": 1.0}},
        {"time": "2024-03-01T10:00:30Z", "index": "st", "value": {"p": 2.0}},
    ]
    docs2 = [
        {"time": "2024-03-01T10:01:00Z", "index": "st", "value": {"p": 3.0}},
        # late out-of-order point + an upsert of an earlier ts
        {"time": "2024-03-01T10:00:00Z", "index": "st", "value": {"p": 9.0}},
    ]
    _write_batch(landing, "b1.json", docs1)
    _write_batch(landing, "b2.json", docs2)

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("s")
    db_path = tdb.catalog._existing("s")
    q = stream_ingest(spark, str(landing), db_path, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # LWW: the epoch processing b2 has a higher ingest_seq → p=9 wins
    assert tdb.get("s", "st", "2024-03-01T10:00:00Z") == {"p": 9.0}
    out = tdb.query(
        "s",
        {
            "index": "st",
            "from": "2024-03-01T10:00:00Z",
            "to": "2024-03-01T10:02:00Z",
            "group": "minute",
            "fields": {"p": ["sum", "count"]},
        },
    ).collect()
    assert [(r["p_sum"], r["p_count"]) for r in out] == [(11.0, 2), (3.0, 1)]

    # restart with no new files: checkpoint prevents re-ingest
    q2 = stream_ingest(spark, str(landing), db_path, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert tdb.get("s", "st", "2024-03-01T10:00:30Z") == {"p": 2.0}


def test_stream_ingest_schema_evolution_restart(tmp_path, spark):
    """Mid-run schema evolution of the MAIN warehouse under streaming
    ingest (r14): v1 files ingest under the v1 doc schema; the stream
    stops; a restart with evolved_fields over the SAME checkpoint
    ingests ONLY the new v2 files (nothing re-read, ingest_seq
    continues); read_ticks(evolved_fields=) NULL-backfills the v1
    partitions under the LWW view; a further evolved restart with no
    new files ingests nothing."""
    import os as _os

    from pyspark.sql import types as T

    from tickdb_spark.ingest import read_ticks

    landing = tmp_path / "landing"
    landing.mkdir()
    db_path = str(tmp_path / "db")
    _os.makedirs(db_path)
    ckpt = str(tmp_path / "ckpt")

    _write_batch(landing, "v1.json", [
        {"time": "2024-03-01T10:00:00Z", "index": "st", "value": {"p": 1.0}},
        {"time": "2024-03-01T10:00:30Z", "index": "st", "value": {"p": 2.0}},
    ])
    _os.utime(landing / "v1.json", (1_700_000_000, 1_700_000_000))
    stream_ingest(spark, str(landing), db_path, ckpt).awaitTermination(120)

    evo = T.StructType([T.StructField("src", T.StringType())])
    _write_batch(landing, "v2.json", [
        {"time": "2024-03-01T10:01:00Z", "index": "st",
         "value": {"p": 3.0}, "src": "web"},
        # an UPSERT of a v1 ts: the evolved column rides LWW resolution
        {"time": "2024-03-01T10:00:00Z", "index": "st",
         "value": {"p": 9.0}, "src": "app"},
    ])
    _os.utime(landing / "v2.json", (1_700_000_001, 1_700_000_001))
    stream_ingest(spark, str(landing), db_path, ckpt,
                  evolved_fields=evo).awaitTermination(120)

    view = {
        (r["series"], r["ts_utc"].isoformat()): (r["value"]["p"], r["src"])
        for r in read_ticks(spark, db_path, evolved_fields=evo).collect()
    }
    assert view == {
        ("st", "2024-03-01T10:00:00"): (9.0, "app"),  # LWW winner from v2
        ("st", "2024-03-01T10:00:30"): (2.0, None),   # NULL-backfilled v1
        ("st", "2024-03-01T10:01:00"): (3.0, "web"),
    }
    # only 2 ingest batches ran (v1 re-ingest would make a 3rd seq)
    seqs = sorted(
        r["ingest_seq"]
        for r in spark.read.parquet(_os.path.join(db_path, "ticks"))
        .select("ingest_seq").distinct().collect()
    )
    assert seqs == [0, 1]

    # evolved restart, no new files: nothing ingested
    stream_ingest(spark, str(landing), db_path, ckpt,
                  evolved_fields=evo).awaitTermination(120)
    assert sorted(
        r["ingest_seq"]
        for r in spark.read.parquet(_os.path.join(db_path, "ticks"))
        .select("ingest_seq").distinct().collect()
    ) == [0, 1]


def test_windowed_bucket_agg_with_late_data(tmp_path, spark):
    landing = tmp_path / "landing"
    landing.mkdir()
    docs = [
        {"time": "2024-03-01T10:00:10Z", "index": "w", "value": {"v": 1.0}},
        {"time": "2024-03-01T10:00:50Z", "index": "w", "value": {"v": 2.0}},
        {"time": "2024-03-01T10:01:10Z", "index": "w", "value": {"v": 5.0}},
        {"time": "2024-03-01T10:00:20Z", "index": "w", "value": {"v": 10.0}},  # late, in wm
        {"time": "2024-03-01T10:30:00Z", "index": "w", "value": {"v": 0.5}},  # advances wm
    ]
    _write_batch(landing, "b.json", docs)

    from tickdb_spark.streaming.ingest import normalize_stream, read_doc_stream

    ticks = normalize_stream(read_doc_stream(spark, str(landing)))
    agg = windowed_bucket_agg(ticks, "v", window="1 minute", watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["bucket_us"]: r
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    # closed windows (watermark passed): 10:00 and 10:01
    t0 = 1709287200 * 10**6
    assert rows[t0]["v_sum"] == 13.0 and rows[t0]["v_count"] == 3
    assert rows[t0]["v_min"] == 1.0 and rows[t0]["v_max"] == 10.0
    assert rows[t0 + 60 * 10**6]["v_sum"] == 5.0


def test_stateful_spike_detection(tmp_path, spark):
    """applyInPandasWithState: EMA state must carry ACROSS micro-batches
    (one landing file per batch), flagging spikes against history."""
    from tickdb_spark.streaming.ingest import normalize_stream, read_doc_stream
    from tickdb_spark.streaming.stateful import detect_spikes

    landing = tmp_path / "landing"
    landing.mkdir()
    base = [
        {"time": f"2024-03-01T10:00:{s:02d}Z", "index": "cpu", "value": {"v": 10.0}}
        for s in range(6)
    ]
    _write_batch(landing, "b1.json", base)
    # batch 2: a 100.0 spike then return to baseline — only detectable if
    # the EMA state from batch 1 survived
    _write_batch(
        landing,
        "b2.json",
        [
            {"time": "2024-03-01T10:01:00Z", "index": "cpu", "value": {"v": 100.0}},
            {"time": "2024-03-01T10:01:10Z", "index": "cpu", "value": {"v": 10.0}},
        ],
    )
    ticks = normalize_stream(read_doc_stream(spark, str(landing)))
    out = detect_spikes(ticks, field="v")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("spikes")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM spikes ORDER BY ts").collect()
    assert len(rows) == 8
    flags = [r["is_spike"] for r in rows]
    assert flags == [False] * 6 + [True, False]
    # EMA decayed after the spike but retains its influence
    assert rows[7]["ema"] > 10.0


def test_stream_ingest_maintains_rollups(tmp_path, spark):
    """Streaming ingest with maintain_rollups: after the stream drains,
    rollup-routed answers equal raw answers with no manual refresh."""
    from tickdb_spark.api import TickDB
    from tickdb_spark.rollup import RollupStore, route_tick_query
    from tickdb_spark.tickquery import run_tick_query

    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("sr")
    db_path = tdb.catalog._existing("sr")
    # bootstrap the cascade so the stream has something to maintain
    tdb.put("sr", [{"time": "2024-03-01T00:00:00Z", "index": "m", "value": {"p": 1.0}}])
    RollupStore(spark, db_path).refresh(("hour", "day"))

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_batch(landing, "b1.json", [
        {"time": "2024-03-01T05:00:00Z", "index": "m", "value": {"p": 2.0}},
        {"time": "2024-03-02T07:00:00Z", "index": "m", "value": {"p": 3.0}},
    ])
    _write_batch(landing, "b2.json", [
        {"time": "2024-03-01T00:00:00Z", "index": "m", "value": {"p": 10.0}},  # upsert
    ])
    q = stream_ingest(spark, str(landing), db_path, str(tmp_path / "ck"),
                      maintain_rollups=True)
    q.awaitTermination(180)

    spec = {"index": "m", "from": "2024-03-01T00:00:00Z", "to": "2024-03-05T00:00:00Z",
            "group": "day", "fields": {"p": ["sum", "count", "last"]}, "exact": True}
    routed = [tuple(r) for r in route_tick_query(spark, db_path, spec).collect()]
    raw = [tuple(r) for r in run_tick_query(tdb.ticks("sr"), spec).collect()]
    assert routed == raw
    assert routed[0][1] == 12.0  # day1: 10 (upserted) + 2
    assert routed[1][1] == 3.0


def test_session_gap_agg_closes_on_gap(tmp_path, spark):
    """Two bursts 2 hours apart with a 30-min gap must land in two
    sessions; within-burst events merge."""
    import shutil

    from pyspark.sql import functions as F

    from tickdb_spark.streaming.ingest import session_gap_agg

    base = 1704067200_000_000  # 2024-01-01 in µs
    rows = (
        [(base + i * 60_000_000, 1.0) for i in range(3)]            # burst 1
        + [(base + 2 * 3600_000_000 + i * 60_000_000, 2.0) for i in range(2)]  # burst 2
        + [(base + 9 * 3600_000_000, 9.9)]                          # watermark pusher
    )
    pdf = spark.createDataFrame(rows, ["ts_us", "value"])
    src = str(tmp_path / "events")
    pdf.write.parquet(src)
    stream = (
        spark.readStream.schema(pdf.schema).parquet(src)
        .select(
            F.lit("s").alias("series"),
            F.timestamp_micros("ts_us").alias("ts_utc"),
            F.create_map(F.lit("value"), F.col("value")).alias("value"),
        )
    )
    agg = session_gap_agg(stream, "value", gap="30 minutes", watermark="5 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["session_start_us"]: (r["n_events"], r["value_sum"])
        for r in spark.table("sess_test").collect()
    }
    assert got[base] == (3, 3.0)
    assert got[base + 2 * 3600_000_000] == (2, 4.0)


def test_stream_dedup_incremental_across_restarts(spark, tmp_path):
    """Kept set = first-seen doc per content hash; a restarted stream
    (same work_dir, new landing files) dedups against the PERSISTED
    fingerprint table — duplicates of docs kept before the restart are
    dropped, fresh content survives."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tickdb_spark.streaming.dedup import stream_dedup_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "state")

    def put(name, rows, mtime):
        p = str(landing / name)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "text": [r[1] for r in rows],
                }
            ),
            p,
        )
        os.utime(p, (mtime, mtime))

    put("b0.parquet", [(1, "alpha"), (2, "beta"), (3, "alpha")], 1_600_000_000)
    put("b1.parquet", [(4, "beta"), (5, "gamma")], 1_600_000_001)
    kept = stream_dedup_ingest(spark, str(landing), work).orderBy("doc_id").collect()
    assert [r.doc_id for r in kept] == [1, 2, 5]

    # restart: new batch with one dup of pre-restart content, one fresh doc
    put("b2.parquet", [(6, "alpha"), (7, "delta")], 1_600_000_002)
    kept2 = stream_dedup_ingest(spark, str(landing), work).orderBy("doc_id").collect()
    assert [r.doc_id for r in kept2] == [1, 2, 5, 7]


def test_stream_ingest_exactly_once_across_restarts(tmp_path, spark):
    """Checkpoint resume: a restarted stream (same checkpoint dir) must
    ingest only files it has not committed — no re-appends of earlier
    batches (exactly-once), and late-arriving files are picked up."""
    from tickdb_spark.ingest import read_ticks

    landing = tmp_path / "landing"
    landing.mkdir()
    db = tmp_path / "db"
    db.mkdir()
    ck = str(tmp_path / "ck")
    _write_batch(landing, "b1.json", [
        {"time": "2024-03-01T10:00:00Z", "index": "eo", "value": {"p": 1.0}}])
    _write_batch(landing, "b2.json", [
        {"time": "2024-03-01T11:00:00Z", "index": "eo", "value": {"p": 2.0}}])
    q = stream_ingest(spark, str(landing), str(db), ck)
    q.awaitTermination(120)
    first = read_ticks(spark, str(db), dedup=False).count()
    assert first == 2
    # restart with NO new data: nothing may be re-ingested
    q = stream_ingest(spark, str(landing), str(db), ck)
    q.awaitTermination(120)
    assert read_ticks(spark, str(db), dedup=False).count() == 2
    # add a file, restart: exactly the new rows appear
    _write_batch(landing, "b3.json", [
        {"time": "2024-03-01T12:00:00Z", "index": "eo", "value": {"p": 3.0}}])
    q = stream_ingest(spark, str(landing), str(db), ck)
    q.awaitTermination(120)
    rows = {r["ts"]: r["value"]["p"]
            for r in read_ticks(spark, str(db)).collect()}
    assert len(rows) == 3 and rows[1709294400000000000] == 3.0


def test_stream_ingest_from_rate_source(tmp_path, spark):
    """VERDICT r6 ask #6: the foreachBatch ingest topology must not be
    load-bearing on the file-landing source. Drive the SAME sink from a
    rate-micro-batch source (deterministic synthetic timestamped rows —
    the in-process stand-in for a message bus) and assert the warehouse
    ends up with the identical layout/visibility invariants: every row
    visible exactly once through the LWW view, point reads and bucket
    queries served. Row identity comes from the monotone rate value
    (ts = start + value seconds): micro-batch BOUNDARIES under a slow
    sink are nondeterministic (the source batches catch-up rows
    together), so correctness is asserted per-row, not per-batch."""
    import time

    from pyspark.sql import functions as F

    from tickdb_spark.schema import ns_to_ts
    from tickdb_spark.streaming.ingest import stream_ingest_source

    start_ns = 1709287200000000000  # 2024-03-01T10:00:00Z
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 4)
        .option("numPartitions", 2)
        .option("startTimestamp", 1709287200000)
        .load()
    )
    ticks = (
        rate.select(
            F.concat(F.lit("rt"), (F.col("value") % 4).cast("string")).alias(
                "series"
            ),
            (F.lit(start_ns) + F.col("value") * F.lit(1_000_000_000)).alias("ts"),
            F.create_map(F.lit("p"), F.col("value").cast("double")).alias("value"),
        )
        .withColumn("ts_utc", ns_to_ts(F.col("ts")))
    )
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("r")
    db_path = tdb.catalog._existing("r")
    q = stream_ingest_source(
        ticks,
        db_path,
        str(tmp_path / "ckpt"),
        trigger={"processingTime": "0 seconds"},
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            # two COMMITTED batches (numInputRows over-reports on the
            # catch-up batch; batchId in recentProgress is the real unit)
            if any(p["batchId"] >= 1 for p in q.recentProgress):
                break
            time.sleep(0.5)
        else:
            raise AssertionError("rate stream committed <2 batches in 120 s")
    finally:
        q.stop()
        q.awaitTermination(60)

    ticks_v = tdb.ticks("r")
    by_series = {
        s: [
            r["value"]["p"]
            for r in ticks_v.where(F.col("series") == f"rt{s}")
            .orderBy("ts")
            .collect()
        ]
        for s in range(4)
    }
    # rate value v lands in series rt(v%4) at start + v seconds: through
    # the LWW view each series must show the exact arithmetic sequence —
    # no loss, no duplication, whatever the micro-batch boundaries were
    n_total = sum(len(v) for v in by_series.values())
    assert n_total >= 8
    for s, vals in by_series.items():
        assert vals == [float(s + 4 * i) for i in range(len(vals))], (s, vals)
    # LWW point read through the same path as batch/HTTP ingest
    assert tdb.get("r", "rt1", "2024-03-01T10:00:01Z") == {"p": 1.0}
    # bucket aggregation served from the streamed warehouse: the first
    # minute holds values 0..min(60, n)-1 for each series
    agg = tdb.query(
        "r",
        {
            "index": "rt0",
            "from": "2024-03-01T10:00:00Z",
            "to": "2024-03-01T10:01:00Z",
            "group": "minute",
            "fields": {"p": ["min", "count"]},
        },
    ).collect()
    assert [(r["p_min"], r["p_count"]) for r in agg] == [
        (0.0, float(len([v for v in by_series[0] if v < 60])))
    ] or [(r["p_min"], int(r["p_count"])) for r in agg] == [
        (0.0, len([v for v in by_series[0] if v < 60]))
    ]


def test_docs_from_bus_parses_kafka_shaped_payloads(spark):
    """The message-bus adapter: binary JSON payloads (Kafka's `value`
    column shape) parse to the same doc frame the file landing dir
    yields; malformed/poison payloads drop instead of failing the query."""
    from pyspark.sql import functions as F

    from tickdb_spark.streaming.ingest import docs_from_bus, normalize_stream

    good = [
        '{"time": "2024-03-01T10:00:00Z", "index": "A", "value": {"p": 1.5}}',
        '{"time": "2024-03-01T10:00:01Z", "index": "B", "value": {"p": 2.5, "q": 3.0}}',
    ]
    poison = ["not json at all", '{"index": "C"}', ""]
    raw = spark.createDataFrame(
        [(s.encode("utf-8"),) for s in good + poison], ["value"]
    )
    docs = docs_from_bus(raw)
    rows = normalize_stream(docs).orderBy("ts").collect()
    assert [(r["series"], r["value"]) for r in rows] == [
        ("A", {"p": 1.5}),
        ("B", {"p": 2.5, "q": 3.0}),
    ]
    assert rows[0]["ts"] == 1709287200000000000


def test_docs_from_bus_streaming_end_to_end(tmp_path, spark):
    """Kafka-shaped STREAMING ingest: a rate source synthesizing one
    binary JSON doc per record (exactly what a Kafka `value` column
    carries) drives docs_from_bus -> normalize_stream ->
    stream_ingest_source; the warehouse must serve LWW point reads like
    the file-landing path."""
    from pyspark.sql import functions as F

    from tickdb_spark.streaming.ingest import (
        docs_from_bus,
        normalize_stream,
        stream_ingest_source,
    )

    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 4)
        .option("numPartitions", 2)
        .option("startTimestamp", 1709287200000)
        .load()
    )
    payload = F.to_json(
        F.struct(
            F.date_format(
                F.timestamp_seconds(F.lit(1709287200) + F.col("value")),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("time"),
            F.concat(F.lit("bus"), (F.col("value") % 2).cast("string")).alias(
                "index"
            ),
            F.create_map(F.lit("p"), F.col("value").cast("double")).alias("value"),
        )
    ).cast("binary")
    ticks = normalize_stream(docs_from_bus(rate.select(payload.alias("value"))))
    tdb = TickDB(spark, str(tmp_path / "wh"))
    tdb.create_db("k")
    db_path = tdb.catalog._existing("k")
    q = stream_ingest_source(
        ticks, db_path, str(tmp_path / "ck"), trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    assert tdb.get("k", "bus1", "2024-03-01T10:00:01Z") == {"p": 1.0}
    assert tdb.get("k", "bus0", "2024-03-01T10:00:02Z") == {"p": 2.0}


def test_stream_ann_index_incremental_and_probe_reads_stored(tmp_path, spark):
    """Incremental ANN index maintenance: (1) the maintained signature
    table equals the batch-built index over the same rows; (2) restart
    with ONE new landing file encodes only the new vectors (old rows
    byte-identical, checkpoint skips processed files); (3) a probe over
    the maintained table reads the stored parquet — the signature
    derivation kernel is absent from the probe plan."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tickdb_spark.operators.similarity import (
        ann_topk_lsh_multitable,
        lsh_signature_table,
    )
    from tickdb_spark.streaming.index import stream_ann_index_maintenance

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(landing / "b0.parquet", index=False)
    pdf.iloc[half : half + half // 2].to_parquet(landing / "b1.parquet", index=False)
    work = str(tmp_path / "state")

    got1 = stream_ann_index_maintenance(spark, str(landing), work, schema=emb.schema)
    seen_ids = set(pdf.vec_id.iloc[: half + half // 2])
    want1 = lsh_signature_table(emb.where(F.col("vec_id").isin(seen_ids)))
    k1 = {(r[0], r[1]): r[2] for r in got1.collect()}
    w1 = {(r[0], r[1]): r[2] for r in want1.collect()}
    assert k1 == w1 and len(k1) == len(seen_ids) * 24

    # restart with one NEW file: only the new vectors are encoded
    pdf.iloc[half + half // 2 :].to_parquet(landing / "b2.parquet", index=False)
    got2 = stream_ann_index_maintenance(spark, str(landing), work, schema=emb.schema)
    k2 = {(r[0], r[1]): r[2] for r in got2.collect()}
    w2 = {(r[0], r[1]): r[2] for r in lsh_signature_table(emb).collect()}
    assert k2 == w2 and len(k2) == len(pdf) * 24
    assert all(k2[key] == v for key, v in k1.items())  # old rows untouched

    # probe reads the STORED table (the epoch log's manifest-listed
    # files); no signature kernel in the plan
    from tickdb_spark.streaming.index import _SIG_SCHEMA, _read_maintained

    stored = _read_maintained(spark, str(tmp_path / "state" / "signatures"), _SIG_SCHEMA)
    probe = ann_topk_lsh_multitable(
        emb, query_ids=[0, 1], k=3, signatures=stored
    )
    from tickdb_spark.plans import scan_read_schemas

    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in plan.lower()
    sig_scans = [
        s for s in scan_read_schemas(probe) if "table_id" in s and "bucket" in s
    ]
    assert sig_scans, scan_read_schemas(probe)  # scans the maintained parquet
    assert all("embedding" not in s for s in sig_scans)


def test_stream_pq_index_incremental_matches_batch(tmp_path, spark):
    """Incremental PQ-code maintenance: maintained codes equal the
    batch-built encode under the SAME frozen codebooks, and a restart
    with a new landing file appends only the new vectors' codes."""
    from tickdb_spark.operators.pq import pq_encode, pq_train
    from tickdb_spark.streaming.index import stream_pq_index_maintenance

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )
    books = pq_train(emb, dim=64, m_sub=8, k=16, iters=2, sample_fraction=0.5)
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(landing / "b0.parquet", index=False)
    work = str(tmp_path / "state")

    got1 = stream_pq_index_maintenance(
        spark, str(landing), work, books, schema=emb.schema
    )
    assert got1.count() == half * 8

    pdf.iloc[half:].to_parquet(landing / "b1.parquet", index=False)
    got2 = stream_pq_index_maintenance(
        spark, str(landing), work, books, schema=emb.schema
    )
    k2 = {(r[0], r[1]): r[2] for r in got2.collect()}
    want = {(r[0], r[1]): r[2] for r in pq_encode(emb, books).collect()}
    assert k2 == want and len(k2) == len(pdf) * 8


def test_stream_index_epoch_writes_are_idempotent(tmp_path, spark):
    """ADVICE r9: a crash between the epoch's commit and the checkpoint
    commit re-runs the epoch. Simulate the half-committed state by
    committing garbage rows as epoch 0, the epoch the first batch will
    claim — the per-epoch sink must REPLACE them, so the maintained
    table still equals the batch-built index (a plain append would keep
    the garbage and duplicate the epoch)."""
    from tickdb_spark.operators.similarity import lsh_signature_table
    from tickdb_spark.streaming.index import _write_epoch, stream_ann_index_maintenance

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(40)
    )
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.to_parquet(landing / "b0.parquet", index=False)
    work = str(tmp_path / "state")

    # half-committed epoch 0: rows that must NOT survive the re-run
    garbage = spark.createDataFrame(
        [(999_999, 0, 7), (999_998, 1, 3)], "vec_id long, table_id int, bucket int"
    )
    _write_epoch(garbage, str(tmp_path / "state" / "signatures"), 0)

    got = stream_ann_index_maintenance(spark, str(landing), work, schema=emb.schema)
    k = {(r[0], r[1]): r[2] for r in got.collect()}
    want = {(r[0], r[1]): r[2] for r in lsh_signature_table(emb).collect()}
    assert k == want  # garbage replaced, no duplicates, no stray ids


def test_stream_ivf_cells_incremental_matches_batch(tmp_path, spark):
    """Incremental IVF cell maintenance: maintained (vec_id, cell) rows
    equal the batch assignment under the SAME frozen coarse centroids,
    and a restart with a new landing file appends only new vectors."""
    from tickdb_spark.operators.kmeans import assign_cells, kmeans_fit
    from tickdb_spark.streaming.index import stream_ivf_cell_maintenance

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
    )
    cents = kmeans_fit(emb, k=4, max_iter=2, tol=0.0, sample_fraction=0.5)
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(landing / "b0.parquet", index=False)
    work = str(tmp_path / "state")

    got1 = stream_ivf_cell_maintenance(
        spark, str(landing), work, cents, schema=emb.schema
    )
    assert got1.count() == half

    pdf.iloc[half:].to_parquet(landing / "b1.parquet", index=False)
    got2 = stream_ivf_cell_maintenance(
        spark, str(landing), work, cents, schema=emb.schema
    )
    k2 = {r[0]: r[1] for r in got2.collect()}
    want = {
        r[0]: r[1] for r in assign_cells(emb, cents).select("vec_id", "cell").collect()
    }
    assert k2 == want and len(k2) == len(pdf)


def test_stream_decontam_grams_incremental_matches_batch(tmp_path, spark):
    """Incremental eval-gram maintenance: the maintained distinct gram
    set equals the batch-built one over the same eval rows (including
    duplicate grams arriving in different epochs), and the report probed
    with the maintained set equals the batch contamination report."""
    from pyspark.sql import functions as F

    from tickdb_spark.operators.decontam import _gram_hashes, contamination_report
    from tickdb_spark.streaming.index import stream_decontam_gram_maintenance

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    eval_set = docs.where(F.col("doc_id") % 5 == 0)
    pdf = eval_set.orderBy("doc_id").toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(landing / "b0.parquet", index=False)
    pdf.iloc[half:].to_parquet(landing / "b1.parquet", index=False)
    work = str(tmp_path / "state")

    grams = stream_decontam_gram_maintenance(
        spark, str(landing), work, eval_set.schema, "text", "doc_id", n=6
    )
    want = set(
        r[0]
        for r in _gram_hashes(eval_set, "text", "doc_id", 6)
        .select("gram")
        .distinct()
        .collect()
    )
    assert set(r[0] for r in grams.collect()) == want

    train = docs.where(F.col("doc_id") % 5 != 0)
    via_stream = contamination_report(
        train, None, "text", "doc_id", n=6, eval_grams=grams
    )
    via_batch = contamination_report(train, eval_set, "text", "doc_id", n=6)
    assert sorted(map(tuple, via_stream.collect())) == sorted(
        map(tuple, via_batch.collect())
    )


def test_stream_hll_register_log_merges_to_batch_sketch(tmp_path, spark):
    """HLL register-log maintenance: the max-merged log equals the
    batch-built registers regardless of batching, including after a
    restart with one new landing file (duplicate values across batches
    must NOT inflate the sketch — max-merge absorbs them)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tickdb_spark.operators.sketch import hll_registers
    from tickdb_spark.streaming.index import stream_hll_maintenance

    rows = [("s", f"v{i % 300}") for i in range(900)]  # heavy duplication
    df = spark.createDataFrame(rows, "scope string, v string")
    pdf = df.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.iloc[:600].to_parquet(landing / "b0.parquet", index=False)
    work = str(tmp_path / "state")

    merged1 = stream_hll_maintenance(
        spark, str(landing), work, df.schema, ["scope"], "v", p=5
    )
    want1 = hll_registers(
        spark.createDataFrame(pdf.iloc[:600], df.schema), ["scope"], "v", p=5
    )
    k1 = {(r[0], r[1]): r[2] for r in merged1.collect()}
    assert k1 == {(r[0], r[1]): r[2] for r in want1.collect()}

    pdf.iloc[600:].to_parquet(landing / "b1.parquet", index=False)
    merged2 = stream_hll_maintenance(
        spark, str(landing), work, df.schema, ["scope"], "v", p=5
    )
    want2 = hll_registers(df, ["scope"], "v", p=5)
    assert {(r[0], r[1]): r[2] for r in merged2.collect()} == {
        (r[0], r[1]): r[2] for r in want2.collect()
    }


def test_stream_phash_fingerprints_match_batch_kernel(tmp_path, spark):
    """Phash maintenance face: the maintained fingerprint table equals
    the batch image_dhash over the same assets, including a non-image
    blob (reject-to-drop inside the micro-batch, same as batch)."""
    from tickdb_spark.operators.mediacodec import encode_bmp
    from tickdb_spark.operators.multimodal import image_dhash
    from tickdb_spark.streaming.index import stream_phash_index_maintenance

    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    rows = [
        (i, bytearray(encode_bmp(rng.randint(0, 255, (16, 18, 3)).astype("uint8"))))
        for i in range(6)
    ]
    rows.append((99, bytearray(b"not an image at all")))
    pdf = pd.DataFrame(rows, columns=["media_id", "content"])
    pdf["content"] = pdf["content"].map(bytes)
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.iloc[:4].to_parquet(landing / "b0.parquet", index=False)
    pdf.iloc[4:].to_parquet(landing / "b1.parquet", index=False)

    media = spark.createDataFrame(pdf, "media_id long, content binary")
    got = stream_phash_index_maintenance(
        spark, str(landing), str(tmp_path / "state"), media.schema
    )
    k = {r[0]: (r[1], r[2]) for r in got.collect()}
    want = {r[0]: (r[1], r[2]) for r in image_dhash(media).collect()}
    assert k == want and 99 not in k and len(k) == 6


def test_stream_bm25_index_incremental_and_probe_reads_postings_only(
    tmp_path, spark
):
    """Inverted-index maintenance: (1) after a restart with one new
    landing file, the maintained postings + SUM-merged stats equal the
    batch build over all docs, and the BM25 probe over them equals
    batch BM25; (2) the probe plan scans ONLY the postings parquet —
    no text column anywhere, token predicate pushed into the scan."""
    from tickdb_spark.operators.bm25 import bm25_topk, bm25_topk_from_index, postings
    from tickdb_spark.streaming.index import stream_bm25_index_maintenance

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.orderBy("doc_id").toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    half = len(pdf) // 2
    pdf.iloc[:half].to_parquet(landing / "b0.parquet", index=False)
    work = str(tmp_path / "state")

    idx1, n1, t1 = stream_bm25_index_maintenance(
        spark, str(landing), work, docs.schema
    )
    assert n1 == half

    pdf.iloc[half:].to_parquet(landing / "b1.parquet", index=False)
    idx2, n2, t2 = stream_bm25_index_maintenance(
        spark, str(landing), work, docs.schema
    )
    want_post = {tuple(r) for r in postings(docs).collect()}
    assert {tuple(r) for r in idx2.collect()} == want_post
    assert n2 == len(pdf)

    queries = [(0, "hash join merge"), (1, "the big table")]
    got = bm25_topk_from_index(idx2, n2, t2, queries, k_top=5)
    want = bm25_topk(docs, queries, k_top=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    from tickdb_spark.plans import pushed_filters, scan_read_schemas

    schemas = scan_read_schemas(got)
    assert schemas and all("text" not in s for s in schemas), schemas
    assert any("token" in f for f in pushed_filters(got)), pushed_filters(got)


def test_compact_index_preserves_probe_results_and_reduces_files(tmp_path, spark):
    """Index compaction (build -> maintain -> compact): the epoch log
    rewrites into ONE sorted file with identical rows; a BM25 probe
    over the compacted postings equals the probe over the log, and the
    number of files the manifest lists actually drops."""
    from tickdb_spark.ingest import manifest
    from tickdb_spark.operators.bm25 import bm25_topk_from_index
    from tickdb_spark.streaming.index import (
        _POSTING_SCHEMA,
        _read_maintained,
        compact_index,
        stream_bm25_index_maintenance,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    pdf = docs.orderBy("doc_id").toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    third = len(pdf) // 3
    for i in range(3):  # 3 landing files -> 3 epochs -> 3+ log files
        pdf.iloc[i * third : None if i == 2 else (i + 1) * third].to_parquet(
            landing / f"b{i}.parquet", index=False
        )
    work = str(tmp_path / "state")
    idx, n, tot = stream_bm25_index_maintenance(spark, str(landing), work, docs.schema)

    post_dir = str(tmp_path / "state" / "postings")
    n_log = len(manifest(work)["tables"]["postings"])
    compact_index(spark, post_dir, _POSTING_SCHEMA, ["token", "doc_id"])
    compacted = _read_maintained(spark, post_dir, _POSTING_SCHEMA)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, idx.collect())
    )
    n_comp = len(manifest(work)["tables"]["postings"])
    assert n_comp == 1 < n_log

    queries = [(0, "hash join merge")]
    a = bm25_topk_from_index(compacted, n, tot, queries, k_top=5)
    b = bm25_topk_from_index(idx, n, tot, queries, k_top=5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_stream_dedup_epoch_rerun_does_not_lose_or_duplicate(tmp_path, spark):
    """Crash-replay idempotence for the dedup stream: simulate a crash
    AFTER the fingerprint commit but BEFORE the checkpoint commit by
    committing epoch 0's fingerprints (and a partial kept write) first.
    With plain appends the re-run's anti-join would see its own hashes
    and silently drop every keeper; with own-epoch-excluded reads +
    per-epoch overwrite, the kept set equals the clean-run result."""
    import pandas as pd

    from tickdb_spark.streaming.dedup import stream_dedup_ingest
    from tickdb_spark.streaming.index import _write_epoch

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["aa", "bb", "aa"]}
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.to_parquet(landing / "b0.parquet", index=False)
    work = str(tmp_path / "state")

    # half-committed epoch 0: fingerprints written, kept partial, no
    # checkpoint commit -> the stream will re-run epoch 0
    fp0 = _dedup_hashes(spark, ["aa"])  # the exact hash the batch will produce
    _write_epoch(fp0, str(tmp_path / "state" / "fingerprints"), 0)
    _write_epoch(
        spark.createDataFrame([], "doc_id long, content_hash string"),
        str(tmp_path / "state" / "kept"), 0,
    )

    kept = stream_dedup_ingest(spark, str(landing), work).orderBy("doc_id").collect()
    assert [r.doc_id for r in kept] == [1, 2]  # nothing lost, nothing duplicated


def test_compact_index_with_tombstones_drops_rows_physically(tmp_path, spark):
    """Delete lifecycle: tombstone_filter hides deleted ids at read
    time; compact_index(tombstones=...) removes them PHYSICALLY — the
    compacted files contain no trace of the deleted ids, and the probe
    over the compacted table equals the tombstone-filtered view."""
    from tickdb_spark.operators.similarity import lsh_signature_table
    from tickdb_spark.streaming.index import (
        _SIG_SCHEMA,
        _read_maintained,
        compact_index,
        stream_ann_index_maintenance,
        tombstone_filter,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(60)
    )
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.iloc[:30].to_parquet(landing / "b0.parquet", index=False)
    pdf.iloc[30:].to_parquet(landing / "b1.parquet", index=False)
    work = str(tmp_path / "state")
    sigs = stream_ann_index_maintenance(spark, str(landing), work, schema=emb.schema)

    from pyspark.sql import functions as F

    tomb = emb.where(F.col("vec_id") % 7 == 2).select("vec_id")
    dead = {r.vec_id for r in tomb.collect()}
    assert dead

    filtered = tombstone_filter(sigs, tomb)
    sig_dir = str(tmp_path / "state" / "signatures")
    compact_index(
        spark,
        sig_dir,
        _SIG_SCHEMA,
        ["vec_id", "table_id"],
        tombstones=tomb,
    )
    compacted = _read_maintained(spark, sig_dir, _SIG_SCHEMA)
    got_ids = {r.vec_id for r in compacted.select("vec_id").distinct().collect()}
    assert got_ids.isdisjoint(dead)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, filtered.collect())
    )
    # the surviving rows equal the index batch-built over survivors
    live = lsh_signature_table(emb.join(tomb, "vec_id", "left_anti"))
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, live.collect())
    )


def test_maintained_index_schema_evolution_null_backfills(tmp_path, spark):
    """Epoch-log schema evolution: a maintained table gains a column
    mid-stream (new epochs carry it, old epochs predate it). Reading
    the log with the EVOLVED explicit schema must NULL-backfill the old
    epochs and surface the new values — mergeSchema semantics without a
    footer-merge pass (the explicit schema IS the merged schema)."""
    from pyspark.sql import types as T

    from tickdb_spark.streaming.index import _read_maintained, _write_epoch

    base = tmp_path / "log"
    _write_epoch(
        spark.createDataFrame([(1, 10), (2, 20)], "doc_id long, tf long"), str(base), 0
    )
    _write_epoch(
        spark.createDataFrame([(3, 30, "en")], "doc_id long, tf long, lang string"),
        str(base), 1,
    )

    evolved = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("tf", T.LongType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    got = {r.doc_id: (r.tf, r.lang) for r in _read_maintained(spark, str(base), evolved).collect()}
    assert got == {1: (10, None), 2: (20, None), 3: (30, "en")}


def test_stream_bm25_rejects_redelivered_doc(tmp_path, spark):
    """SUM-merged postings/stats require disjoint batches (ADVICE r10):
    a doc_id delivered in two landing files must raise, not silently
    double-count df and the stats deltas."""
    import pandas as pd
    import pytest

    from tickdb_spark.streaming.index import stream_bm25_index_maintenance

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "text": ["alpha beta", "beta gamma", "gamma delta"]}
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.iloc[:2].to_parquet(landing / "b0.parquet", index=False)
    pdf.iloc[1:].to_parquet(landing / "b1.parquet", index=False)  # doc 2 twice

    docs = spark.createDataFrame(pdf, "doc_id long, text string")
    with pytest.raises(ValueError, match="more than one micro-batch"):
        stream_bm25_index_maintenance(
            spark, str(landing), str(tmp_path / "state"), docs.schema
        )


def test_stream_quantile_sketch_equals_batch_sample(tmp_path, spark):
    """Quantile maintenance face: the union-merged epoch samples equal
    the batch-built bottom-k sample over the same rows regardless of
    how rows split across landing files (merge law on rows)."""
    from tickdb_spark.operators.sketch import bottomk_sample
    from tickdb_spark.streaming.index import stream_quantile_sketch_maintenance

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "value")
    )
    pdf = ev.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    # adversarial split: round-robin by id, NOT contiguous ranges
    for i in range(3):
        pdf[pdf.event_id % 3 == i].to_parquet(landing / f"b{i}.parquet", index=False)

    got = stream_quantile_sketch_maintenance(
        spark, str(landing), str(tmp_path / "state"), ev.schema,
        "event_id", "value", k=512,
    )
    want = bottomk_sample(ev, "event_id", "value", k=512)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_quantile_face_tombstones_and_compaction(tmp_path, spark):
    """Delete + compact lifecycle for the quantile-sketch face (the two
    faces the other seven already cover): tombstoned keys vanish from
    the filtered view, compact_index(tombstones=...) drops them
    PHYSICALLY into one file, quantile estimates over the compacted
    sample equal the estimates over the filtered log, and the filtered
    sample is still a valid bottom-k' sample of the survivors (any
    survivor outside it hashes above every retained row per epoch)."""
    from pyspark.sql import functions as F

    from tickdb_spark.ingest import manifest
    from tickdb_spark.operators.sketch import bottomk_quantiles
    from tickdb_spark.streaming.index import (
        _BKSAMPLE_SCHEMA,
        _read_maintained,
        compact_index,
        stream_quantile_sketch_maintenance,
        tombstone_filter,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "value")
        .orderBy("event_id")
        .limit(300)
    )
    pdf = ev.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    pdf.iloc[:150].to_parquet(landing / "b0.parquet", index=False)
    pdf.iloc[150:].to_parquet(landing / "b1.parquet", index=False)
    work = str(tmp_path / "state")
    merged = stream_quantile_sketch_maintenance(
        spark, str(landing), work, ev.schema, "event_id", "value", k=64
    )

    tomb = ev.where(F.col("event_id") % 5 == 3).select(
        F.col("event_id").alias("_key")
    )
    dead = {r._key for r in tomb.collect()}
    smp_dir = str(tmp_path / "state" / "bk_samples")
    live_log = tombstone_filter(
        _read_maintained(spark, smp_dir, _BKSAMPLE_SCHEMA), tomb, "_key"
    ).select(*_BKSAMPLE_SCHEMA.fieldNames())
    n_log = len(manifest(work)["tables"]["bk_samples"])
    compact_index(
        spark, smp_dir, _BKSAMPLE_SCHEMA, ["_h", "_key"],
        tombstones=tomb, id_col="_key",
    )
    compacted = _read_maintained(spark, smp_dir, _BKSAMPLE_SCHEMA)
    assert {r._key for r in compacted.collect()}.isdisjoint(dead)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, live_log.collect())
    )
    n_comp = len(manifest(work)["tables"]["bk_samples"])
    assert n_comp == 1 < n_log

    # probe equality: quantiles off the compacted merged sample == off
    # the filtered log (same k-row state either way)
    probe_a = bottomk_quantiles(
        compacted.orderBy("_h", "_key").limit(64)
    ).collect()
    probe_b = bottomk_quantiles(
        live_log.orderBy("_h", "_key").limit(64)
    ).collect()
    assert sorted(map(tuple, probe_a)) == sorted(map(tuple, probe_b))
    assert len(probe_a) == 3


def test_docstats_face_tombstones_and_compaction(tmp_path, spark):
    """Delete + compact lifecycle for the docstats (schema-evolution)
    face: tombstoned docs vanish physically, the compacted log reads
    back with the evolved schema (old epochs still NULL-backfilled),
    and the surviving rows equal the stats batch-built over survivors."""
    from pyspark.sql import functions as F

    from tickdb_spark.ingest import manifest
    from tickdb_spark.streaming.index import (
        _DOCSTATS_V2,
        _read_maintained,
        compact_index,
        stream_docstats_maintenance,
        tombstone_filter,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(60)
    )
    pdf = docs.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "state")
    v1_schema = docs.schema

    # producer v1 ships (doc_id, text); run the stream
    pdf.iloc[:30].to_parquet(landing / "b0.parquet", index=False)
    stream_docstats_maintenance(spark, str(landing), work, v1_schema)
    # producer v2 adds lang; SAME landing + checkpoint, second run
    # resumes at the new file (the restart pattern)
    v2 = pdf.iloc[30:].copy()
    v2["lang"] = "en"
    v2.to_parquet(landing / "b1.parquet", index=False)
    v2_schema = spark.createDataFrame(v2).schema
    stats = stream_docstats_maintenance(spark, str(landing), work, v2_schema)

    tomb = docs.where(F.col("doc_id") % 4 == 1).select("doc_id")
    dead = {r.doc_id for r in tomb.collect()}
    stats_dir = str(tmp_path / "state" / "doc_stats")
    filtered = tombstone_filter(stats, tomb, "doc_id")
    n_log = len(manifest(work)["tables"]["doc_stats"])
    compact_index(
        spark, stats_dir, _DOCSTATS_V2, ["doc_id"],
        tombstones=tomb, id_col="doc_id",
    )
    compacted = _read_maintained(spark, stats_dir, _DOCSTATS_V2)
    assert {r.doc_id for r in compacted.collect()}.isdisjoint(dead)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, filtered.collect())
    )
    assert len(manifest(work)["tables"]["doc_stats"]) == 1 < n_log

    # surviving rows == batch-built stats over survivors (v1 docs NULL
    # lang, v2 docs 'en')
    survivors = docs.join(tomb, "doc_id", "left_anti")
    want = survivors.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
        F.when(F.col("doc_id").isin([int(i) for i in pdf.iloc[30:]["doc_id"]]), "en")
        .otherwise(F.lit(None).cast("string"))
        .alias("lang"),
    )
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_stream_component_maintenance_merges_across_batches(tmp_path, spark):
    """Incremental CC face: chains built in earlier batches merge when a
    later batch links them — the final label table equals batch min-id
    connected components over the UNION of all pairs ever landed; a
    restart over the same checkpoint resumes and incorporates new
    landing files incrementally."""
    import os as _os

    import pandas as pd

    from tickdb_spark.operators.cluster import connected_components
    from tickdb_spark.streaming.index import stream_component_maintenance

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        [(1, 2), (10, 11), (100, 101)],   # two chains + an isolated pair
        [(2, 3), (11, 12)],               # extend both chains
        [(3, 10)],                        # MERGE the two chains
    ]
    for i, rows in enumerate(batches):
        p = landing / f"b{i}.parquet"
        pd.DataFrame(rows, columns=["id_a", "id_b"]).astype("int64").to_parquet(
            p, index=False
        )
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    got = stream_component_maintenance(
        spark, str(landing), str(tmp_path / "state")
    )
    labels = {r.id: r.component for r in got.collect()}
    assert labels == {
        1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 12: 1, 100: 100, 101: 100,
    }

    # restart with a NEW landing file that merges the isolated pair in
    all_pairs = [p for b in batches for p in b] + [(12, 100)]
    p = landing / "b3.parquet"
    pd.DataFrame([(12, 100)], columns=["id_a", "id_b"]).astype("int64").to_parquet(
        p, index=False
    )
    _os.utime(p, (1_700_000_003, 1_700_000_003))
    got2 = stream_component_maintenance(
        spark, str(landing), str(tmp_path / "state")
    )
    labels2 = {r.id: r.component for r in got2.collect()}
    # oracle: batch CC over the union of every pair ever landed
    nodes = spark.createDataFrame(
        [(i,) for i in sorted({x for pr in all_pairs for x in pr})], "id long"
    )
    edges = spark.createDataFrame(all_pairs, "id_a long, id_b long")
    want = {
        r.id: r.component
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert labels2 == want
    assert labels2[100] == 1  # the late merge relabeled the isolated pair


def test_component_face_tombstones_and_compaction(tmp_path, spark):
    """Lifecycle parity with the other nine faces: compacting the label
    log (epoch column retained) preserves latest-per-id labels, and a
    tombstoned id disappears from probes while its old component
    survives for the remaining members."""
    import os as _os

    import pandas as pd

    from tickdb_spark.streaming.index import (
        _LABEL_SCHEMA,
        _current_labels,
        _read_maintained,
        compact_index,
        stream_component_maintenance,
        tombstone_filter,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [[(1, 2), (10, 11)], [(2, 3)], [(3, 10)]]
    for i, rows in enumerate(batches):
        p = landing / f"b{i}.parquet"
        pd.DataFrame(rows, columns=["id_a", "id_b"]).astype("int64").to_parquet(
            p, index=False
        )
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    got = stream_component_maintenance(spark, str(landing), str(tmp_path / "state"))
    want = {r.id: r.component for r in got.collect()}
    assert want == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1}

    lbl_dir = str(tmp_path / "state" / "components")
    # tombstone id=11 (takedown): gone from the probe, others keep labels
    ts = spark.createDataFrame([(11,)], "id long")
    probe = _current_labels(
        tombstone_filter(
            _read_maintained(spark, lbl_dir, _LABEL_SCHEMA), ts, id_col="id"
        )
    )
    after = {r.id: r.component for r in probe.collect()}
    assert 11 not in after and after[10] == 1

    # compaction: one sorted file, identical latest-per-id labels
    compact_index(
        spark, lbl_dir, _LABEL_SCHEMA,
        sort_cols=["component", "id"], tombstones=ts, id_col="id",
    )
    compacted = _current_labels(_read_maintained(spark, lbl_dir, _LABEL_SCHEMA))
    assert {r.id: r.component for r in compacted.collect()} == after


def test_stream_scd2_maintenance_out_of_order_batches(tmp_path, spark):
    """Incremental SCD2 face: a LATE event that lands inside an
    already-collapsed run must SPLIT it and resume the old value after —
    only replaying the touched users' stored event log gets this right
    (interval-only state discards the interior events that prove the
    resumption). Final view must equal batch-built scd2_history over
    the union of all landed events; a restart resumes incrementally."""
    import os as _os

    import pandas as pd

    from tickdb_spark.operators.scd2 import scd2_history
    from tickdb_spark.streaming.index import (
        SCD2_EVENT_SCHEMA,
        stream_scd2_maintenance,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    cols = ["user_id", "event_type", "ts_us", "event_id"]
    batches = [
        [(1, "A", 10, 1), (1, "A", 40, 2), (1, "B", 80, 3)],
        [(1, "C", 30, 4)],               # LATE: splits the A run
        [(2, "X", 5, 5), (1, "D", 90, 6)],
    ]

    def _land(i, rows):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=cols)
        for c in ("user_id", "ts_us", "event_id"):
            pdf[c] = pdf[c].astype("int64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    for i, rows in enumerate(batches):
        _land(i, rows)

    got = stream_scd2_maintenance(spark, str(landing), str(tmp_path / "state"))
    view = {
        (r.user_id, r.valid_from): (r.event_type, r.valid_to, r.is_current)
        for r in got.collect()
    }
    assert view == {
        (1, 10): ("A", 30, 0),
        (1, 30): ("C", 40, 0),   # the late event split the A run...
        (1, 40): ("A", 80, 0),   # ...and A resumes from the interior event
        (1, 80): ("B", 90, 0),
        (1, 90): ("D", None, 1),
        (2, 5): ("X", None, 1),
    }

    # restart: another late event for user 2 + a brand-new user
    _land(3, [(2, "Y", 3, 7), (3, "Z", 1, 8)])
    got2 = stream_scd2_maintenance(spark, str(landing), str(tmp_path / "state"))
    all_rows = [r for b in batches for r in b] + [(2, "Y", 3, 7), (3, "Z", 1, 8)]
    want_df = scd2_history(
        spark.createDataFrame(all_rows, cols),
        "user_id", "event_type", "ts_us", "event_id",
    )
    want = {
        (r.user_id, r.valid_from): (r.event_type, r.valid_to, r.is_current)
        for r in want_df.collect()
    }
    got2_map = {
        (r.user_id, r.valid_from): (r.event_type, r.valid_to, r.is_current)
        for r in got2.collect()
    }
    assert got2_map == want
    assert got2_map[(2, 3)] == ("Y", 5, 0)  # late event opened user 2's history


def test_scd2_face_tombstones_and_compaction(tmp_path, spark):
    """Lifecycle parity with the other ten faces: a tombstoned user
    (the right-to-be-forgotten unit) disappears from probes; compacting
    the history log (epoch retained) preserves the current view."""
    import os as _os

    import pandas as pd

    from tickdb_spark.streaming.index import (
        SCD2_HIST_SCHEMA,
        _read_maintained,
        compact_index,
        scd2_current_history,
        stream_scd2_maintenance,
        tombstone_filter,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    cols = ["user_id", "event_type", "ts_us", "event_id"]
    batches = [[(1, "A", 10, 1), (2, "X", 5, 2)], [(1, "B", 20, 3)]]
    for i, rows in enumerate(batches):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=cols)
        for c in ("user_id", "ts_us", "event_id"):
            pdf[c] = pdf[c].astype("int64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    stream_scd2_maintenance(spark, str(landing), str(tmp_path / "state"))

    hist_dir = str(tmp_path / "state" / "scd2_history")
    ts = spark.createDataFrame([(2,)], "user_id long")
    probe = scd2_current_history(
        tombstone_filter(
            _read_maintained(spark, hist_dir, SCD2_HIST_SCHEMA), ts,
            id_col="user_id",
        )
    )
    after = {(r.user_id, r.valid_from): r.event_type for r in probe.collect()}
    assert after == {(1, 10): "A", (1, 20): "B"}  # user 2 gone

    compact_index(
        spark, hist_dir, SCD2_HIST_SCHEMA,
        sort_cols=["user_id", "valid_from"], tombstones=ts, id_col="user_id",
    )
    compacted = scd2_current_history(
        _read_maintained(spark, hist_dir, SCD2_HIST_SCHEMA)
    )
    assert {
        (r.user_id, r.valid_from): r.event_type for r in compacted.collect()
    } == after


def test_stream_dq_maintenance_additive_and_restart(tmp_path, spark):
    """DQ face: per-batch fused counters summed across epochs equal the
    batch-built report over all landed rows (row-level checks are
    exactly additive); restart resumes incrementally; compacting the
    counter log preserves the merged report."""
    import os as _os

    import pandas as pd

    from pyspark.sql import types as T

    from tickdb_spark.operators import dq
    from tickdb_spark.streaming.index import (
        DQ_COUNTER_SCHEMA,
        _read_maintained,
        compact_index,
        dq_counters_report,
        stream_dq_maintenance,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    batches = [
        [(1, 10.0), (2, None)],     # one null
        [(3, 99.0)],                # one out-of-range
        [(4, 5.0), (5, 20.0)],      # clean
    ]

    def _land(i, rows):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=["id", "v"])
        pdf["id"] = pdf["id"].astype("int64")
        pdf["v"] = pdf["v"].astype("float64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    for i, rows in enumerate(batches):
        _land(i, rows)

    checks = [
        dq.not_null("v_not_null", "v"),
        dq.in_range("v_in_0_50", "v", 0, 50),
    ]
    got = stream_dq_maintenance(
        spark, str(landing), str(tmp_path / "state"), schema, checks, table="t"
    )
    rows = {r["check_name"]: (r["violations"], r["total"], r["passed"])
            for r in got.collect()}
    assert rows == {"v_not_null": (1, 5, 0), "v_in_0_50": (2, 5, 0)}

    # restart with one more landing file: counters extend, never recount.
    # The new batch plants the exact NON-additive cases: a duplicate of
    # batch-0's id=1 (uniqueness cannot ride per-batch counters) and an
    # id=6 with no parent — both must surface as check_class='compaction'
    # rows computed over the full landed corpus by dq_compaction_audit.
    _land(3, [(6, -1.0), (1, 7.0)])
    parent = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    got2 = stream_dq_maintenance(
        spark, str(landing), str(tmp_path / "state"), schema, checks, table="t",
        uniques=[("id_unique", ["id"])],
        ri=[("id_in_parent", "id", parent, "id")],
    )
    by_class = {}
    for r in got2.collect():
        by_class.setdefault(r["check_class"], {})[r["check_name"]] = (
            r["violations"], r["total"])
    rows2 = by_class["row"]
    assert rows2 == {"v_not_null": (1, 7), "v_in_0_50": (3, 7)}
    assert by_class["compaction"] == {
        "id_unique": (1, 7),      # the cross-batch duplicate of id=1
        "id_in_parent": (1, 7),   # id=6 has no parent
    }

    # compaction preserves the merged report
    ctr_dir = str(tmp_path / "state" / "dq_counters")
    compact_index(
        spark, ctr_dir, DQ_COUNTER_SCHEMA, sort_cols=["check_name", "epoch"]
    )
    rep = dq_counters_report(
        _read_maintained(spark, ctr_dir, DQ_COUNTER_SCHEMA), "t"
    )
    assert {
        r["check_name"]: (r["violations"], r["total"]) for r in rep.collect()
    } == rows2


def test_compaction_policy_triggers(tmp_path):
    """compaction_policy fires on any of: epoch count, small average
    file size, log-to-base bytes ratio — and stays quiet on a healthy
    young log. The manifest's file sizes only: no Spark, and the files
    it lists need not exist."""
    from tickdb_spark import ingest
    from tickdb_spark.streaming.index import compaction_policy

    work = str(tmp_path)

    def mk(name, epochs, file_bytes, base_bytes=None):
        files = [
            {"path": f"{name}/e{e}.parquet", "bytes": file_bytes, "epoch": str(e)}
            for e in range(epochs)
        ]
        if base_bytes is not None:
            files.append({"path": f"{name}/base.parquet", "bytes": base_bytes})
        with ingest.writer(work) as m:
            ingest._publish(work, m, "plant", {name: files})
        return str(tmp_path / name)

    # healthy young log: few epochs, big files, no base -> not due
    healthy = mk("healthy", 4, 8 << 20)
    pol = compaction_policy(healthy)
    assert pol["due"] is False and pol["epochs"] == 4 and pol["reasons"] == []
    assert pol["base_bytes"] is None

    # epoch-count trigger
    old = mk("old", 70, 8 << 20)
    pol = compaction_policy(old)
    assert pol["due"] and any("epochs 70" in r for r in pol["reasons"])

    # small-files trigger (well under the 4 MiB default)
    frag = mk("frag", 10, 1024)
    pol = compaction_policy(frag)
    assert pol["due"] and any("avg file" in r for r in pol["reasons"])
    # ... but a SINGLE small epoch is fine (fresh table, nothing to merge)
    single = mk("single", 1, 1024)
    assert compaction_policy(single)["due"] is False

    # ratio trigger: log outweighs the compacted base > 3x; the base's
    # file is neither an epoch nor part of the small-files average
    log = mk("log", 4, 8 << 20, base_bytes=8 << 20)
    pol = compaction_policy(log)
    assert pol["due"] and any("x base" in r for r in pol["reasons"])
    assert (pol["base_bytes"], pol["epochs"], pol["files"]) == (8 << 20, 4, 4)
    # same log against a big-enough base -> quiet
    mk("log", 4, 8 << 20, base_bytes=16 << 20)
    assert compaction_policy(log)["due"] is False


def test_stream_groupby_mv_additive_restart_compact(tmp_path, spark):
    """Group-by MV face: merged partials equal the batch-built aggregate
    over all landed rows (SUM/SUM/MIN/MAX merge laws), restart extends
    incrementally, compaction preserves the view, and quantized sums are
    exact integers."""
    import os as _os

    import pandas as pd
    from pyspark.sql import types as T

    from tickdb_spark.streaming.index import (
        _read_maintained,
        compact_index,
        groupby_mv_report,
        stream_groupby_mv_maintenance,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )

    def _land(i, rows):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=["g", "v"])
        pdf["v"] = pdf["v"].astype("float64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    batches = [
        [("a", 1.5), ("a", 2.25), ("b", 10.0)],
        [("a", -3.0), ("b", 0.000001)],
        [("c", 7.0)],
    ]
    for i, rows in enumerate(batches):
        _land(i, rows)

    got = stream_groupby_mv_maintenance(
        spark, str(landing), str(tmp_path / "state"), schema, ["g"], "v"
    )
    rows = {r["g"]: (r["cnt"], r["sum_q"], r["min_q"], r["max_q"])
            for r in got.collect()}
    assert rows == {
        "a": (3, 750_000, -3_000_000, 2_250_000),   # 1.5+2.25-3.0 = 0.75
        "b": (2, 10_000_001, 1, 10_000_000),        # quantized exactly
        "c": (1, 7_000_000, 7_000_000, 7_000_000),
    }

    # restart: one more file lands; only the new epoch is aggregated
    _land(3, [("a", 100.0), ("d", -1.0)])
    got2 = stream_groupby_mv_maintenance(
        spark, str(landing), str(tmp_path / "state"), schema, ["g"], "v"
    )
    rows2 = {r["g"]: (r["cnt"], r["sum_q"], r["min_q"], r["max_q"])
             for r in got2.collect()}
    assert rows2["a"] == (4, 100_750_000, -3_000_000, 100_000_000)
    assert rows2["d"] == (1, -1_000_000, -1_000_000, -1_000_000)
    assert rows2["b"] == rows["b"] and rows2["c"] == rows["c"]

    # compaction preserves the merged view
    mv_dir = str(tmp_path / "state" / "mv_partials")
    seed = T.StructType(
        [schema["g"]]
        + [T.StructField(c, T.LongType(), False)
           for c in ("cnt", "sum_q", "min_q", "max_q")]
    )
    compact_index(spark, mv_dir, seed, sort_cols=["g"])
    rep = groupby_mv_report(_read_maintained(spark, mv_dir, seed), ["g"])
    assert {r["g"]: (r["cnt"], r["sum_q"], r["min_q"], r["max_q"])
            for r in rep.collect()} == rows2


def test_stream_groupby_mv_variance_states_and_rebuild(tmp_path, spark):
    """r14 MV-face extension: (1) sum/sum-of-squares variance states are
    CROSS-BATCH ADDITIVE — two different batchings of the same rows
    merge to identical states, equal to the python batch aggregate; (2)
    deletes go through tombstone + per-key rebuild: the rebuilt view
    equals the batch aggregate over the corrected source, untouched keys
    keep their states bit-identical, a keys-with-no-corrected-rows entry
    fully vanishes, and stream partials LANDING AFTER the rebuild merge
    into the rebuilt key normally."""
    import os as _os

    import pandas as pd
    from pyspark.sql import types as T

    from tickdb_spark.streaming.index import (
        groupby_mv_rebuild_keys,
        groupby_mv_view,
        stream_groupby_mv_maintenance,
    )

    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )

    def _land(landing, i, rows):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=["g", "v"])
        pdf["v"] = pdf["v"].astype("float64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    rows_all = [("a", 1.5), ("a", 2.25), ("b", 10.0), ("a", -3.0),
                ("b", 0.25), ("c", 7.0)]

    def _py_states(rows):
        out = {}
        for g, v in rows:
            q = int(__import__("math").floor(v * 1_000_000 + 0.5))
            q2 = int(__import__("math").floor(v * 1_000 + 0.5))
            c, s, mn, mx, s2, ss = out.get(
                g, (0, 0, None, None, 0, 0)
            )
            out[g] = (
                c + 1, s + q,
                q if mn is None else min(mn, q),
                q if mx is None else max(mx, q),
                s2 + q2, ss + q2 * q2,
            )
        return {
            g: (c, s, mn, mx, s2, ss, int(s // c) if s >= 0 else -(-s // c))
            for g, (c, s, mn, mx, s2, ss) in out.items()
        }

    def _got(df):
        return {
            r["g"]: (r["cnt"], r["sum_q"], r["min_q"], r["max_q"],
                     r["sum_q2"], r["sumsq_q2"], r["avg_q"])
            for r in df.collect()
        }

    # two different batchings of the same rows
    states = {}
    for tag, cuts in (("x", [3, 5]), ("y", [1, 2, 4])):
        landing = tmp_path / f"landing_{tag}"
        landing.mkdir()
        prev = 0
        for i, cut in enumerate([*cuts, len(rows_all)]):
            _land(landing, i, rows_all[prev:cut])
            prev = cut
        got = stream_groupby_mv_maintenance(
            spark, str(landing), str(tmp_path / f"state_{tag}"), schema,
            ["g"], "v", sq_scale=1_000,
        )
        states[tag] = _got(got)
    assert states["x"] == states["y"] == _py_states(rows_all)

    # rebuild: key 'a' drops its 2.25 row, key 'c' is a full delete;
    # cutoff = 2, the last stream epoch the corrected history supersedes
    work = str(tmp_path / "state_x")
    keys = spark.createDataFrame([("a",), ("c",)], "g string")
    corrected = spark.createDataFrame(
        [("a", 1.5), ("a", -3.0)], "g string, v double"
    )
    # crash window: the rebuild writes its replacement partial FIRST;
    # simulate a crash before the tombstone lands — the orphan
    # replacement must be INVISIBLE (readers keep the old state, no
    # double count, no spurious delete)
    import pyspark.sql.functions as SF

    from tickdb_spark.streaming.index import _mv_partial_agg, _write_epoch

    _write_epoch(
        _mv_partial_agg(corrected, ["g"], "v", 1_000_000, 1_000)
        .withColumn("epoch", SF.lit(2).cast("long"))
        .withColumn("rebuilt", SF.lit(True)),
        _os.path.join(work, "mv_partials"), "rebuild_2",
    )
    mid = _got(groupby_mv_view(spark, work, schema, ["g"], sq_scale=1_000))
    assert mid == states["x"]  # old state, bit-identical

    # recovery = re-run the full rebuild (idempotent over the orphan)
    groupby_mv_rebuild_keys(
        spark, work, schema, ["g"], "v", keys, corrected,
        cutoff_epoch=2, sq_scale=1_000,
    )
    after = _got(groupby_mv_view(spark, work, schema, ["g"], sq_scale=1_000))
    want = _py_states([("a", 1.5), ("a", -3.0), ("b", 10.0), ("b", 0.25)])
    assert after == want
    assert after["b"] == states["x"]["b"]  # untouched key bit-identical

    # stream partials landing AFTER the rebuild (epoch 3 > cutoff 2)
    # merge into rebuilt keys normally — future data is never swallowed,
    # and the fully-deleted key restarts from its new rows alone
    _land(tmp_path / "landing_x", 9, [("a", 4.0), ("c", 1.0)])
    got3 = _got(stream_groupby_mv_maintenance(
        spark, str(tmp_path / "landing_x"), work, schema, ["g"], "v",
        sq_scale=1_000,
    ))
    assert got3 == _py_states(
        [("a", 1.5), ("a", -3.0), ("a", 4.0), ("b", 10.0), ("b", 0.25),
         ("c", 1.0)]
    )


def test_stream_groupby_mv_hll_distinct_states(tmp_path, spark):
    """r15 MV-face extension (VERDICT r14 ask #4): per-key APPROX
    DISTINCT via sparse HLL registers in the same epoch-log shape. (1)
    ADDITIVITY: two different batchings of the same rows max-merge to
    the identical register state — equal to the batch-built sketch
    (hll_sum_scaled bit-identical); (2) an all-NULL-distinct key carries
    NULL states; (3) deletes ride the same tombstone/rebuild path: an
    orphan register replacement (crash before tombstone) is invisible,
    the recovered rebuild equals the batch sketch over the corrected
    source, untouched keys keep their registers bit-identical, and
    post-rebuild landings keep merging."""
    import os as _os

    import pandas as pd
    from pyspark.sql import types as T

    from tickdb_spark.operators.sketch import (
        hll_estimate_from_sparse,
        hll_hit_registers,
    )
    from tickdb_spark.streaming.index import (
        groupby_mv_rebuild_keys,
        groupby_mv_view,
        stream_groupby_mv_maintenance,
    )

    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
            T.StructField("u", T.LongType(), True),
        ]
    )

    def _land(landing, i, rows):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=["g", "v", "u"])
        pdf["v"] = pdf["v"].astype("float64")
        pdf["u"] = pdf["u"].astype("Int64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    # key 'n' has ONLY NULL distinct values; 'a' mixes NULLs in
    rows_all = [("a", 1.0, 10), ("a", 2.0, 11), ("a", 3.0, 10),
                ("a", 4.0, None), ("b", 5.0, 20), ("b", 6.0, 21),
                ("b", 7.0, 22), ("n", 8.0, None)]

    def _batch_sketch(rows):
        df = spark.createDataFrame(
            [(g, u) for g, _v, u in rows], "g string, u long"
        )
        return {
            r["g"]: (r["hll_sum_scaled"], int(r["hll_estimate"] // 1))
            for r in hll_estimate_from_sparse(
                hll_hit_registers(df, ["g"], "u", 6), ["g"], 6
            ).collect()
        }

    def _got(df):
        return {
            r["g"]: (r["hll_sum_scaled"], r["distinct_hll"], r["cnt"])
            for r in df.collect()
        }

    states = {}
    for tag, cuts in (("x", [3, 6]), ("y", [1, 4, 7])):
        landing = tmp_path / f"landing_{tag}"
        landing.mkdir()
        prev = 0
        for i, cut in enumerate([*cuts, len(rows_all)]):
            _land(landing, i, rows_all[prev:cut])
            prev = cut
        got = stream_groupby_mv_maintenance(
            spark, str(landing), str(tmp_path / f"state_{tag}"), schema,
            ["g"], "v", distinct_col="u", distinct_p=6,
        )
        states[tag] = _got(got)
    assert states["x"] == states["y"]
    want = _batch_sketch(rows_all)
    assert states["x"]["a"][:2] == want["a"]   # registers == batch sketch
    assert states["x"]["b"][:2] == want["b"]
    assert "n" not in want                      # all-NULL: no sketch rows
    assert states["x"]["n"][:2] == (None, None)
    assert states["x"]["a"][2] == 4             # agg states still present

    # rebuild: 'a' drops its u=11 row (distinct shrinks), 'b' untouched
    work = str(tmp_path / "state_x")
    keys = spark.createDataFrame([("a",)], "g string")
    corrected = spark.createDataFrame(
        [("a", 1.0, 10), ("a", 3.0, 10), ("a", 4.0, None)],
        schema,
    )
    # crash window: orphan register replacement (no tombstone yet) must
    # be invisible
    import pyspark.sql.functions as F

    from tickdb_spark.streaming.index import _write_epoch

    _write_epoch(
        hll_hit_registers(corrected, ["g"], "u", 6)
        .withColumn("epoch", F.lit(2).cast("long"))
        .withColumn("rebuilt", F.lit(True)),
        _os.path.join(work, "mv_hll_partials"), "rebuild_2",
    )
    mid = _got(groupby_mv_view(spark, work, schema, ["g"], distinct_p=6))
    assert mid == states["x"]

    groupby_mv_rebuild_keys(
        spark, work, schema, ["g"], "v", keys, corrected,
        cutoff_epoch=2, distinct_col="u", distinct_p=6,
    )
    after = _got(groupby_mv_view(spark, work, schema, ["g"], distinct_p=6))
    want2 = _batch_sketch(
        [("a", 1.0, 10), ("a", 3.0, 10), ("a", 4.0, None)]
    )
    assert after["a"][:2] == want2["a"]
    assert after["b"] == states["x"]["b"]      # untouched, bit-identical
    assert after["a"][2] == 3                  # agg states rebuilt too

    # post-rebuild landing (epoch 3 > cutoff 2) merges registers forward
    _land(tmp_path / "landing_x", 9, [("a", 9.0, 40), ("a", 9.5, 41)])
    got3 = _got(stream_groupby_mv_maintenance(
        spark, str(tmp_path / "landing_x"), work, schema, ["g"], "v",
        distinct_col="u", distinct_p=6,
    ))
    want3 = _batch_sketch(
        [("a", 1.0, 10), ("a", 3.0, 10), ("a", 4.0, None),
         ("a", 9.0, 40), ("a", 9.5, 41)]
    )
    assert got3["a"][:2] == want3["a"]
    assert got3["a"][2] == 5


def test_mv_hll_register_log_compaction(tmp_path, spark):
    """Lifecycle completion for the MV distinct states: compacting the
    sparse-register epoch log (compact_index, identical rows, sorted by
    the probe key) preserves the max-merged registers and therefore the
    estimate bit-for-bit — registers are max-mergeable, so compaction
    is a pure read-path optimization like every other face."""
    import os as _os

    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from tickdb_spark.operators.sketch import hll_estimate_from_sparse
    from tickdb_spark.streaming.index import (
        _mv_hll_schema,
        _read_maintained,
        compact_index,
        stream_groupby_mv_maintenance,
    )

    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
            T.StructField("u", T.LongType(), True),
        ]
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    rows = [("a", 1.0, i % 7) for i in range(20)] + [
        ("b", 2.0, i % 13) for i in range(20)
    ]
    for i in range(3):
        pdf = pd.DataFrame(rows[i::3], columns=["g", "v", "u"])
        pdf["v"] = pdf["v"].astype("float64")
        pdf["u"] = pdf["u"].astype("Int64")
        p = landing / f"b{i}.parquet"
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    work = str(tmp_path / "state")
    got = stream_groupby_mv_maintenance(
        spark, str(landing), work, schema, ["g"], "v",
        distinct_col="u", distinct_p=6,
    )
    before = {
        r["g"]: (r["hll_sum_scaled"], r["distinct_hll"])
        for r in got.collect()
    }

    hll_dir = _os.path.join(work, "mv_hll_partials")
    reg_schema = _mv_hll_schema(schema, ["g"])
    compact_index(spark, hll_dir, reg_schema, sort_cols=["g", "bucket"])
    merged = (
        _read_maintained(spark, hll_dir, reg_schema)
        .groupBy("g", "bucket")
        .agg(F.max("register").cast("long").alias("register"))
    )
    after = {
        r["g"]: (
            r["hll_sum_scaled"],
            int(r["hll_estimate"] // 1),
        )
        for r in hll_estimate_from_sparse(merged, ["g"], 6).collect()
    }
    assert after == before


def test_stream_groupby_mv_topk_states(tmp_path, spark):
    """r15 MV-face extension: per-key TOP-K VALUES (leaderboard) state.
    (1) ADDITIVITY: two batchings re-rank to the identical batch-built
    top-k (per-batch top-k is a monoid partial); (2) deletes ride the
    same tombstone/rebuild: an orphan replacement is invisible, the
    recovered rebuild equals the corrected batch top-k, untouched keys
    bit-identical; (3) post-rebuild landings re-enter the leaderboard."""
    import os as _os

    import pandas as pd
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from tickdb_spark.streaming.index import (
        _mv_topk_partial,
        _write_epoch,
        groupby_mv_rebuild_keys,
        groupby_mv_topk_view,
        stream_groupby_mv_topk_maintenance,
    )

    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
            T.StructField("rid", T.LongType(), False),
        ]
    )

    def _land(landing, i, rows):
        p = landing / f"b{i}.parquet"
        pdf = pd.DataFrame(rows, columns=["g", "v", "rid"])
        pdf["v"] = pdf["v"].astype("float64")
        pdf.to_parquet(p, index=False)
        _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    rows_all = [("a", 5.0, 1), ("a", 9.0, 2), ("a", 7.0, 3), ("a", 9.0, 4),
                ("a", 1.0, 5), ("b", 2.0, 6), ("b", 3.0, 7)]

    def _py_topk(rows, k=3):
        out = {}
        for g, v, rid in rows:
            out.setdefault(g, []).append(
                (int(__import__("math").floor(v * 1_000_000 + 0.5)), rid)
            )
        want = set()
        for g, vals in out.items():
            vals.sort(key=lambda t: (-t[0], t[1]))
            for rnk, (q, rid) in enumerate(vals[:k], 1):
                want.add((g, rnk, q, rid))
        return want

    def _got(df):
        return {(r["g"], r["rnk"], r["q"], r["tie"]) for r in df.collect()}

    states = {}
    for tag, cuts in (("x", [2, 5]), ("y", [1, 3, 6])):
        landing = tmp_path / f"landing_{tag}"
        landing.mkdir()
        prev = 0
        for i, cut in enumerate([*cuts, len(rows_all)]):
            _land(landing, i, rows_all[prev:cut])
            prev = cut
        got = stream_groupby_mv_topk_maintenance(
            spark, str(landing), str(tmp_path / f"state_{tag}"), schema,
            ["g"], "v", "rid", k=3,
        )
        states[tag] = _got(got)
    assert states["x"] == states["y"] == _py_topk(rows_all)

    # rebuild: 'a' drops its rid=2 row (a top value vanishes — exactly
    # what max/topk state cannot invert)
    work = str(tmp_path / "state_x")
    keys = spark.createDataFrame([("a",)], "g string")
    corrected_rows = [r for r in rows_all if not (r[0] == "a" and r[2] == 2)]
    corrected = spark.createDataFrame(
        [r for r in corrected_rows if r[0] == "a"], schema
    )
    # crash window: orphan replacement only — invisible
    _write_epoch(
        _mv_topk_partial(corrected, ["g"], "v", "rid", 1_000_000, 3)
        .withColumn("epoch", F.lit(2).cast("long"))
        .withColumn("rebuilt", F.lit(True)),
        _os.path.join(work, "mv_topk_partials"), "rebuild_2",
    )
    assert _got(
        groupby_mv_topk_view(spark, work, schema, ["g"], 3)
    ) == states["x"]

    groupby_mv_rebuild_keys(
        spark, work, schema, ["g"], "v", keys, corrected,
        cutoff_epoch=2, topk=3, tie_col="rid",
    )
    after = _got(groupby_mv_topk_view(spark, work, schema, ["g"], 3))
    assert after == _py_topk(corrected_rows)

    # post-rebuild landing: a new global max enters the board
    _land(tmp_path / "landing_x", 9, [("a", 99.0, 8)])
    got3 = _got(stream_groupby_mv_topk_maintenance(
        spark, str(tmp_path / "landing_x"), work, schema, ["g"], "v",
        "rid", k=3,
    ))
    assert got3 == _py_topk(corrected_rows + [("a", 99.0, 8)])


def test_compact_all_unified_workdir_pass(tmp_path, spark):
    """Unified lifecycle (VERDICT r15 ask #4): two faces maintain their
    logs under ONE work_dir (LSH signatures + group-by MV partials);
    compact_all drives each log's compact_index off the shared
    compaction_policy trigger in one pass. Rows are bit-identical
    before/after per log, each compacted log is one sorted file with no
    epochs left, a not-due log is left alone, and the report says why
    each log was or wasn't rewritten."""
    import os as _os

    import pandas as pd

    from pyspark.sql import types as T
    from tickdb_spark.ingest import manifest
    from tickdb_spark.streaming.index import (
        _SIG_SCHEMA,
        _mv_seed_schema,
        _read_maintained,
        compact_all,
        compaction_policy,
        groupby_mv_report,
        stream_ann_index_maintenance,
        stream_groupby_mv_maintenance,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(60)
    )
    pdf = emb.toPandas()
    land_e = tmp_path / "landing_emb"
    land_e.mkdir()
    for i in range(3):
        pdf.iloc[i * 20 : (i + 1) * 20].to_parquet(
            land_e / f"b{i}.parquet", index=False
        )
    land_m = tmp_path / "landing_mv"
    land_m.mkdir()
    for i in range(3):
        pd.DataFrame({"g": ["a", "b"], "v": [1.0 + i, 2.0 + i]}).to_parquet(
            land_m / f"b{i}.parquet", index=False
        )
    work = str(tmp_path / "state")
    mv_schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    sig_before = stream_ann_index_maintenance(
        spark, str(land_e), work, schema=emb.schema
    ).collect()
    mv_before = stream_groupby_mv_maintenance(
        spark, str(land_m), work, mv_schema, ["g"], "v"
    ).collect()

    # 3 epochs each; max_epochs=2 makes both logs due, the tombstone log not
    reports = compact_all(spark, work, max_epochs=2)
    by_name = {r["table"]: r for r in reports}
    assert set(by_name) == {"signatures", "mv_partials", "mv_tombstones"}
    assert by_name["signatures"]["compacted"] is True
    assert by_name["mv_partials"]["compacted"] is True
    assert any("epochs" in s for s in by_name["signatures"]["reasons"])
    # the MV tombstone log (registered, 0 epochs) is reported, not rewritten
    assert by_name["mv_tombstones"]["compacted"] is False
    assert by_name["mv_tombstones"]["epochs"] == 0

    # identical rows, one file, zero epochs after
    sig_dir = by_name["signatures"]["dest"]
    assert sig_dir == _os.path.join(work, "signatures")
    after = _read_maintained(spark, sig_dir, _SIG_SCHEMA).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, sig_before))
    assert len(manifest(work)["tables"]["signatures"]) == 1
    assert compaction_policy(sig_dir)["epochs"] == 0
    # MV: the merged VIEW over the compacted partials equals the live one
    comp = _read_maintained(
        spark, by_name["mv_partials"]["dest"], _mv_seed_schema(mv_schema, ["g"], None)
    )
    view_after = groupby_mv_report(comp, ["g"]).collect()
    assert sorted(map(tuple, view_after)) == sorted(map(tuple, mv_before))

    # second pass: the compacted logs hold no epochs, so nothing is due
    again = compact_all(spark, work, max_epochs=2)
    assert {r["table"] for r in again} == set(by_name)
    assert not any(r["compacted"] for r in again)


def test_compaction_adopts_base_and_stream_continues(tmp_path, spark):
    """compact_all adopts each rewrite in place: after 3 epochs the
    signature log is one base file with the same rows and the covered
    epochs absorbed; the same stream (same checkpoint) then lands 2 MORE
    epochs beside the base and the maintained view equals the batch
    aggregate over all 5 batches."""
    import os as _os

    from tickdb_spark.ingest import manifest
    from tickdb_spark.streaming.index import (
        _SIG_SCHEMA,
        _read_maintained,
        compact_all,
        compaction_policy,
        stream_ann_index_maintenance,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(100)
    )
    pdf = emb.toPandas()
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(3):
        pdf.iloc[i * 20 : (i + 1) * 20].to_parquet(
            landing / f"b{i}.parquet", index=False
        )
    work = str(tmp_path / "state")
    live1 = sorted(
        map(
            tuple,
            stream_ann_index_maintenance(
                spark, str(landing), work, schema=emb.schema
            ).collect(),
        )
    )

    sig_dir = _os.path.join(work, "signatures")
    reports = compact_all(spark, work, max_epochs=2)
    (r,) = [x for x in reports if x["table"] == "signatures"]
    assert r["compacted"] and r["dest"] == sig_dir
    # the log is one base file (no epoch key), the epochs are absorbed
    (base,) = manifest(work)["tables"]["signatures"]
    assert "epoch" not in base
    assert manifest(work)["absorbed"]["signatures"] == ["0", "1", "2"]
    assert compaction_policy(sig_dir)["epochs"] == 0
    after = sorted(
        map(tuple, _read_maintained(spark, sig_dir, _SIG_SCHEMA).collect())
    )
    assert after == live1

    # the SAME stream continues: 2 new files, same checkpoint
    for i in range(3, 5):
        pdf.iloc[i * 20 : (i + 1) * 20].to_parquet(
            landing / f"b{i}.parquet", index=False
        )
    live2 = sorted(
        map(
            tuple,
            stream_ann_index_maintenance(
                spark, str(landing), work, schema=emb.schema
            ).collect(),
        )
    )
    from tickdb_spark.operators.similarity import lsh_signature_table

    want = sorted(map(tuple, lsh_signature_table(emb).collect()))
    assert live2 == want
    assert compaction_policy(sig_dir)["epochs"] == 2  # the new epochs only


_LOG_SCHEMA = "k long, v long"


def _rerun_epoch_1(spark, log):
    """A crash re-run of epoch 1 that writes other rows than its first run."""
    from tickdb_spark.streaming.index import _write_epoch

    _write_epoch(spark.createDataFrame([(10, 1), (11, 1)], _LOG_SCHEMA), log, 1)


def _compact_dropping_k2(spark, log):
    """A compaction that also drops tombstoned k = 2."""
    from tickdb_spark.streaming.index import compact_index

    tomb = spark.createDataFrame([(2,)], "k long")
    compact_index(spark, log, _LOG_SCHEMA, ["k"], tombstones=tomb, id_col="k")


_LOG_OPS = {"write_epoch": _rerun_epoch_1, "compact_index": _compact_dropping_k2}


@pytest.mark.parametrize("point", ["write", "publish", "delete"])
@pytest.mark.parametrize("op", list(_LOG_OPS))
def test_log_commits_end_like_an_uninterrupted_run_at_every_crash_point(
    tmp_path, spark, monkeypatch, op, point
):
    """For an epoch re-run and a compaction: a crash after the data
    write and before the manifest link leaves the old rows and layout,
    one right after the link or at the first deletion of a dropped file
    gives the uninterrupted run's, every file the manifest lists is on
    disk, and a rerun ends where one uninterrupted run does."""
    import os as _os

    from tests.test_rollup import _crash_at
    from tickdb_spark.ingest import manifest
    from tickdb_spark.streaming.index import _read_maintained, _write_epoch

    def state(work):
        m = manifest(work)
        rows = _read_maintained(spark, _os.path.join(work, "log"), _LOG_SCHEMA)
        return (
            sorted(map(tuple, rows.collect())),
            sorted({f.get("epoch", "") for f in m["tables"]["log"]}),
            m.get("absorbed", {}).get("log", []),
        )

    clean, work = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for w in (clean, work):
        for e in (0, 1):
            rows = spark.createDataFrame([(e, e), (e + 2, e)], _LOG_SCHEMA)
            _write_epoch(rows, _os.path.join(w, "log"), e)
    before, n = state(work), manifest(work)["n"]
    _LOG_OPS[op](spark, _os.path.join(clean, "log"))
    uninterrupted = state(clean)
    assert uninterrupted != before
    with monkeypatch.context() as m:
        _crash_at(m, work, point)
        with pytest.raises(RuntimeError, match="injected crash"):
            _LOG_OPS[op](spark, _os.path.join(work, "log"))
    published = manifest(work)["n"] > n
    assert published is (point != "write")
    assert state(work) == (uninterrupted if published else before)
    listed = [f["path"] for fs in manifest(work)["tables"].values() for f in fs]
    assert all(_os.path.isfile(_os.path.join(work, p)) for p in listed)
    _LOG_OPS[op](spark, _os.path.join(work, "log"))
    assert state(work) == uninterrupted


def test_replayed_absorbed_epoch_publishes_nothing(tmp_path, spark):
    """The checkpoint-replay crash window (r16 review finding): an epoch
    is committed, the process dies BEFORE the stream commit, and the
    operator runs compact_all before restarting — on restart the
    checkpoint replays the batch, whose rows already live in the base.
    The epoch is in the log's absorbed set, so the replay's write
    publishes nothing and writes no file: rows stay exact."""
    import os as _os

    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from tickdb_spark.ingest import _data_files, manifest
    from tickdb_spark.streaming.index import (
        _mv_partial_agg,
        _mv_seed_schema,
        _read_maintained,
        _write_epoch,
        compact_all,
        compaction_policy,
        groupby_mv_report,
        stream_groupby_mv_maintenance,
    )

    land = tmp_path / "landing"
    land.mkdir()
    for i in range(3):
        pd.DataFrame({"g": ["a", "b"], "v": [1.0 + i, 2.0 + i]}).to_parquet(
            land / f"b{i}.parquet", index=False
        )
    work = str(tmp_path / "state")
    schema = T.StructType(
        [
            T.StructField("g", T.StringType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    want = sorted(
        map(
            tuple,
            stream_groupby_mv_maintenance(
                spark, str(land), work, schema, ["g"], "v"
            ).collect(),
        )
    )
    mv_dir = _os.path.join(work, "mv_partials")
    compact_all(spark, work, max_epochs=2)
    m, on_disk = manifest(work), _data_files(work, "mv_partials")
    assert "1" in m["absorbed"]["mv_partials"]

    # the replay: epoch 1's batch, as the stream handler writes it
    b1 = spark.createDataFrame([("a", 2.0), ("b", 3.0)], "g string, v double")
    _write_epoch(
        _mv_partial_agg(b1, ["g"], "v", 1_000_000, None)
        .withColumn("epoch", F.lit(1).cast("long"))
        .withColumn("rebuilt", F.lit(False)),
        mv_dir, 1,
    )
    assert manifest(work) == m
    assert _data_files(work, "mv_partials") == on_disk
    seed = _mv_seed_schema(schema, ["g"], None)
    got = sorted(
        map(
            tuple,
            groupby_mv_report(
                _read_maintained(spark, mv_dir, seed).drop("epoch", "rebuilt"),
                ["g"],
            ).collect(),
        )
    )
    assert got == want  # no double count
    assert compaction_policy(mv_dir)["epochs"] == 0


def _land(landing, i, rows, columns):
    """Write landing file ``b<i>.parquet`` (int columns as int64) with
    an mtime that keeps the file source's order."""
    import os as _os

    import pandas as pd

    pdf = pd.DataFrame(rows, columns=columns)
    for c in columns:
        if pdf[c].dtype.kind == "i":
            pdf[c] = pdf[c].astype("int64")
    p = landing / f"b{i}.parquet"
    pdf.to_parquet(p, index=False)
    _os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))


def _dedup_face(spark, landing, work):
    from tickdb_spark.streaming.dedup import stream_dedup_ingest

    return sorted(r.doc_id for r in stream_dedup_ingest(spark, landing, work).collect())


def _dedup_batch(spark, rows):
    first = {}
    for doc_id, text in sorted(rows):
        first.setdefault(text, doc_id)
    return sorted(first.values())


def _cc_face(spark, landing, work):
    from tickdb_spark.streaming.index import stream_component_maintenance

    got = stream_component_maintenance(spark, landing, work)
    return {r.id: r.component for r in got.collect()}


def _cc_batch(spark, rows):
    from tickdb_spark.operators.cluster import connected_components

    nodes = spark.createDataFrame(
        [(i,) for i in sorted({x for pair in rows for x in pair})], "id long"
    )
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    cc = connected_components(nodes, edges, id_col="id")
    return {r.id: r.component for r in cc.collect()}


def _scd2_face(spark, landing, work):
    from tickdb_spark.streaming.index import stream_scd2_maintenance

    return sorted(map(tuple, stream_scd2_maintenance(spark, landing, work).collect()))


def _scd2_batch(spark, rows):
    from tickdb_spark.operators.scd2 import scd2_history

    events = spark.createDataFrame(
        rows, "user_id long, event_type string, ts_us long, event_id long"
    )
    hist = scd2_history(events, "user_id", "event_type", "ts_us", "event_id")
    return sorted(map(tuple, hist.collect()))


_SCD2_COLS = ["user_id", "event_type", "ts_us", "event_id"]


@pytest.mark.parametrize(
    "columns, log, before, after, face, batch",
    [
        pytest.param(
            ["doc_id", "text"], "fingerprints",
            [[(1, "aa"), (2, "bb")], [(3, "cc")]],
            [(10, "aa"), (11, "dd")],  # a dup of doc 1, one new doc
            _dedup_face, _dedup_batch, id="dedup",
        ),
        pytest.param(
            ["id_a", "id_b"], "components",
            [[(1, 2), (10, 11)], [(2, 3)]],
            [(3, 10)],  # merges the two chains
            _cc_face, _cc_batch, id="components",
        ),
        pytest.param(
            _SCD2_COLS, "scd2_events",
            [[(1, "A", 10, 1)], [(1, "B", 80, 2)]],
            [(1, "C", 30, 3)],  # late: splits the A run
            _scd2_face, _scd2_batch, id="scd2",
        ),
    ],
)
def test_stream_face_sees_its_swapped_base(
    tmp_path, spark, columns, log, before, after, face, batch
):
    """After compact_all adopts a face's own state log as its base, the
    next batch must read the committed rows from the base:
    the face's answer equals the batch-built one over everything landed
    (a dup landing after the compaction is dropped, a merge or late
    event after it sees the history before it)."""
    from tickdb_spark.streaming.index import compact_all, compaction_policy

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "state")
    for i, rows in enumerate(before):
        _land(landing, i, rows, columns)
    pre = [r for rows in before for r in rows]
    assert face(spark, str(landing), work) == batch(spark, pre)

    reports = compact_all(spark, work, max_epochs=1)
    (r,) = [r for r in reports if r["table"] == log]
    assert r["compacted"]
    assert compaction_policy(str(tmp_path / "state" / log))["epochs"] == 0

    _land(landing, len(before), after, columns)
    assert face(spark, str(landing), work) == batch(spark, pre + after)


def _dedup_hashes(spark, texts):
    """The fingerprints the dedup handler stores for ``texts``, computed
    by its own hash expression (``exact_dedup_groups``)."""
    from tickdb_spark.operators.dedup import exact_dedup_groups

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    return exact_dedup_groups(docs, "text", "doc_id").select("content_hash")


def _dedup_partial(spark, rows):
    return "fingerprints", _dedup_hashes(spark, [t for _, t in rows])


def _scd2_partial(spark, rows):
    from tickdb_spark.streaming.index import _SCD2_LOG_SCHEMA

    return "scd2_events", spark.createDataFrame(
        [(*r, 0) for r in rows], _SCD2_LOG_SCHEMA
    )


@pytest.mark.parametrize(
    "columns, batches, face, batch, partial",
    [
        pytest.param(
            ["doc_id", "text"],
            [[(1, "aa"), (2, "bb"), (3, "aa")], [(4, "bb"), (5, "cc")]],
            _dedup_face, _dedup_batch, _dedup_partial, id="dedup",
        ),
        pytest.param(
            _SCD2_COLS,
            [
                [(1, "A", 10, 1), (1, "A", 40, 2), (1, "B", 80, 3)],
                [(1, "C", 30, 4)],
                [(2, "X", 5, 5), (1, "D", 90, 6)],
            ],
            _scd2_face, _scd2_batch, _scd2_partial, id="scd2",
        ),
    ],
)
def test_stream_face_epoch_rerun_equals_clean_run(
    tmp_path, spark, columns, batches, face, batch, partial
):
    """Crash replay for a face that reads its own state: epoch 0's state
    write was committed but the checkpoint commit was not, so the stream
    re-runs epoch 0 over its own partial write. The handler reads its
    committed state with its own epoch excluded, so the answer equals a
    clean run's."""
    from tickdb_spark.streaming.index import _write_epoch

    answers = []
    for run in ("clean", "rerun"):
        landing = tmp_path / run / "landing"
        landing.mkdir(parents=True)
        for i, rows in enumerate(batches):
            _land(landing, i, rows, columns)
        work = tmp_path / run / "state"
        if run == "rerun":
            log, rows = partial(spark, batches[0])
            _write_epoch(rows, str(work / log), 0)
        answers.append(face(spark, str(landing), str(work)))
    assert answers[1] == answers[0] == batch(spark, [r for b in batches for r in b])
