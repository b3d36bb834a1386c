"""The benchmark's workloads. Each takes a ``run.Run`` and returns its
metrics as ``{name: (value, unit)}``: the end-to-end set when untraced,
the per-layer set when traced."""

from __future__ import annotations

import http.client
import importlib.util
import json
import os
import statistics
import threading
import time
import types

import duckdb

from perfbench import gen
from perfbench.metrics import MODULES, PER_LAYER
from perfbench.replay import Replay, matches
from perfbench.spans import counters_by_span, parse_event_log, rebind

#: Warehouse size of ``serve``: time-shifted copies of the 10k-point
#: events table (5 series x 31 days = 155 partitions).
SERVE_COPIES = 5
SERVE_CLIENTS = 2
#: Untimed, unchecked reads each client issues before the window opens:
#: the first seconds of reads in a fresh JVM run up to 1.5x slower, and
#: cost more CPU, while the read path's code is compiled, and without this
#: warm-up how long that lasts decided much of a run's figures. Half a mix
#: cycle each, so the two clients together read every kind once.
SERVE_WARM_READS = 5


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``; with ten or fewer samples, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def end_to_end(run, latencies: list[float], wall: float, cpu_s: float, setup_s: float) -> dict:
    """The end-to-end metrics every workload reports (see BENCHMARK.json):
    set-up time, CPU seconds per operation over the timed window, and
    peak memory. Wall-clock throughput and latency go to the details: on a
    shared host they follow the other tenants' load more than the program.
    A traced run records the metrics in its details too: the tracing
    overhead is the traced median minus the untraced median (``overhead.py``)."""
    value, pct, n = tail(latencies)
    run.details["wall"] = {
        "ops": len(latencies),
        "ops_per_s": len(latencies) / wall,
        "op_p50_s": statistics.median(latencies),
        "op_tail": {"value_s": value, "percentile": pct, "n": n},
    }
    out = {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (cpu_s / len(latencies), "s"),
        "peak_rss_mb": (run.peak_rss_mb(), "MB"),
    }
    if run.traced:
        run.details["end_to_end_traced"] = {k: v for k, (v, _u) in out.items()}
    return out


def _tree(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(run, values: dict[str, float], counters: dict[str, dict]) -> dict:
    """Every per-layer metric; layers a workload does not exercise read 0."""
    out = {}
    for name, unit, _better in PER_LAYER:
        v = values.get(name, 0.0)
        if name.startswith("spark."):
            span, counter = name[len("spark."):].rsplit(".", 1)
            v = counters.get(span, {}).get(counter, 0)
        out[name] = (float(v), unit)
    return out


def _finish_trace(run, values: dict, windows: dict, roots: tuple[str, ...] = (), ops: str = "") -> dict:
    """Stop the session, read the event log and assemble per-layer metrics.
    Unattributed time is the part of each client's measured window
    (``windows``) outside any request span, plus the self time of the
    ``roots`` spans that stand for one whole client operation. Spark
    counters count the jobs of the ops whose id starts with ``ops``."""
    summary = run.tracer.summary(windows)
    run.details["spans"] = summary
    values.update(run.setup_parts)
    values["trace.unattributed_s"] = summary["unattributed"]["total_s"] + sum(
        summary[r]["self_s"] for r in roots if r in summary
    )
    run.stop_session()
    groups = parse_event_log(os.path.join(run.work, "eventlog"))
    counters = counters_by_span({g: c for g, c in groups.items() if g.split(":")[-1].startswith(ops)})
    run.details["spark_by_span"] = counters
    run.details["spark_by_op"] = {g: c for g, c in groups.items() if g}
    values.update(_derived_counters(run, counters))
    return _layer_metrics(run, values, counters)


def _derived_counters(run, counters: dict) -> dict:
    """Per-layer ratios that need both spans and Spark counters."""
    out = {}
    spans = run.tracer.by_name()
    gets = spans.get("api.get", [])
    if gets:
        out["api.get.rows_examined"] = counters.get("api.get", {}).get("input_records", 0) / len(gets)
    execs = spans.get("tickquery.exec", [])
    rows = sum(s.attrs.get("rows", 0) for s in execs)
    if rows:
        out["tickquery.rows_examined_per_row"] = (
            counters.get("tickquery.exec", {}).get("input_records", 0) / rows
        )
    run.details.setdefault("bases", {}).update({"api.get": len(gets), "tickquery.exec_rows": rows})
    appends = spans.get("ingest.append_batch", [])
    if appends:
        out["ingest.append_batch.bytes_written"] = (
            counters.get("ingest.append_batch", {}).get("output_bytes", 0) / len(appends)
        )
    if "opbank.run" in counters or "opbank.construct" in counters:
        out["opbank.python_eval_s"] = sum(
            counters.get(s, {}).get("python_eval_s", 0) for s in ("opbank.construct", "opbank.run")
        )
    return out


def _trace_tick_layers(run, tdb_cls):
    """Wrap the tick layers the program calls internally (traced runs)."""
    from tickdb_spark import ingest, tickquery

    tracer = run.tracer
    orig_read, orig_plan = ingest.read_ticks, tickquery.run_tick_query

    def read_ticks(spark, db_path, *a, **kw):
        with tracer.span("ingest.read_ticks") as s:
            df = orig_read(spark, db_path, *a, **kw)
        s.attrs["files"] = _tree(os.path.join(db_path, ingest.TICKS_DIR))[0]
        s.attrs["dedup"] = "Aggregate" in df._jdf.queryExecution().logical().toString()
        return df

    def run_tick_query(*a, **kw):
        with tracer.span("tickquery.plan"):
            return orig_plan(*a, **kw)

    rebind(orig_read, read_ticks)
    rebind(orig_plan, run_tick_query)

    class Exec:
        """The lazy frame ``TickDB.query`` returns; the server collects it."""

        def __init__(self, df):
            self.df = df

        def collect(self):
            with tracer.span("tickquery.exec") as s:
                rows = self.df.collect()
            s.attrs["rows"] = len(rows)
            s.attrs["routed"] = "/rollups/" in self.df._jdf.queryExecution().executedPlan().toString()
            return rows

    class TracedTickDB(tdb_cls):
        def get(self, db, series, t):
            with tracer.span("api.get"):
                return super().get(db, series, t)

        def query(self, db, spec, as_of_seq=None):
            with tracer.span("api.query"):
                return Exec(super().query(db, spec, as_of_seq=as_of_seq))

    return TracedTickDB


def _trace_server(run, server, roots: dict):
    """Open a ``server`` span per request, linked by the op-id header to
    the client span that sent it."""
    tracer = run.tracer
    base = server.httpd.RequestHandlerClass

    class Handler(base):
        def _dispatch(self, method):
            op = self.headers.get("X-Bench-Op")
            with tracer.span("server", op=op, parent=roots.get(op)):
                return super()._dispatch(method)

    server.httpd.RequestHandlerClass = Handler


def _in_threads(fn) -> None:
    """Run ``fn(c)`` for every serve client, each in its own thread."""
    threads = [threading.Thread(target=fn, args=(c,)) for c in range(SERVE_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _request(conn_args, req: dict, db: str, op: str | None):
    conn = http.client.HTTPConnection(*conn_args, timeout=120)
    try:
        body = None if req["body"] is None else json.dumps(req["body"])
        headers = {"Content-Type": "application/json"}
        if op is not None:
            headers["X-Bench-Op"] = op
        conn.request(req["method"], f"/{db}{req['path']}", body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _decode(status: int, raw: bytes):
    if status == 404:
        return None
    try:
        return json.loads(raw)
    except ValueError:
        return raw.decode(errors="replace")


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def serve(run) -> dict:
    """2 reader clients, closed loop, over HTTP against a clean warehouse
    (one append into an empty database) with the full rollup cascade."""
    from tickdb_spark import ingest
    from tickdb_spark.api import TickDB
    from tickdb_spark.rollup import RollupStore, route_tick_query
    from tickdb_spark.server import TickDBServer

    copies = 1 if run.tiny else SERVE_COPIES
    points = gen.warehouse_points(run.seed, copies)
    pool = gen.read_pool(points)
    staged = os.path.join(run.work, "staged.parquet")
    run.details["input"] = {**gen.sizes(points), "bytes": gen.stage(points, staged)}

    session_s = run.setup_sessions()
    t_build = time.perf_counter()
    spark, tracer = run.spark, run.tracer
    tdb_cls = _trace_tick_layers(run, TickDB) if run.traced else TickDB
    tdb = tdb_cls(spark, os.path.join(run.work, "wh"))
    tdb.create_db("bench")
    db_path = os.path.join(run.work, "wh", "bench")
    t0 = time.perf_counter()
    with tracer.span("ingest.append_batch", op="setup"):
        ingest.append_batch(db_path, spark.read.parquet(staged))
    t1 = time.perf_counter()
    with tracer.span("rollup.refresh", op="setup"):
        RollupStore(spark, db_path).refresh()
    refresh_s = time.perf_counter() - t1
    run.setup_parts["ingest.append_batch_s"] = t1 - t0

    records: list[list] = [[] for _ in range(SERVE_CLIENTS)]
    windows: dict = {}
    roots: dict = {}
    with TickDBServer(tdb) as server:
        if run.traced:
            _trace_server(run, server, roots)
        host_port = server.httpd.server_address[:2]
        seqs = [gen.read_sequence(c, pool, 100_000) for c in range(SERVE_CLIENTS)]

        def warm(c: int) -> None:
            for idx in seqs[c][:SERVE_WARM_READS]:
                _request(host_port, pool[idx], "bench", None)

        _in_threads(warm)
        setup_s = session_s + (time.perf_counter() - t_build)
        deadline = time.perf_counter() + run.seconds

        def client(c: int) -> None:
            seq = seqs[c][SERVE_WARM_READS:]
            start = time.perf_counter()
            for i, idx in enumerate(seq):
                if time.perf_counter() >= deadline:
                    break
                op = f"c{c}-{i}"
                with tracer.span("http", op=op) as root:
                    if root is not None:
                        roots[op] = root
                    t0 = time.perf_counter()
                    status, raw = _request(host_port, pool[idx], "bench", op if run.traced else None)
                    t1 = time.perf_counter()
                records[c].append((idx, t0, t1, status, raw))
            windows[threading.get_ident()] = (start, time.perf_counter())

        cpu0, t_start = run.cpu_s(), time.perf_counter()
        _in_threads(client)
        wall, cpu = time.perf_counter() - t_start, run.cpu_s() - cpu0

    # -- correctness, outside the timed loop ----------------------------
    t_check = time.perf_counter()
    replay = Replay([points])
    expected: dict[int, tuple] = {}
    latencies, by_kind, errors, timeline = [], {}, 0, []
    for c, recs in enumerate(records):
        for idx, t0, t1, status, raw in recs:
            req = pool[idx]
            if idx not in expected:
                expected[idx] = replay.expected(req)
            want_status, want = expected[idx]
            got = _decode(status, raw)
            run.check(status == want_status and matches(got, want), f"{req['kind']} {req['path']} {req['body']}")
            errors += status not in (200, 404)
            latencies.append(t1 - t0)
            by_kind.setdefault(req["kind"], []).append(t1 - t0)
            timeline.append((c, req["kind"], round(t0 - t_start, 3), round(t1 - t0, 4)))
    run.details["by_kind_p50_s"] = {k: statistics.median(v) for k, v in by_kind.items()}
    run.details["by_kind_n"] = {k: len(v) for k, v in by_kind.items()}
    # (client, kind, start in the window, latency) of every timed read
    run.details["reads"] = sorted(timeline, key=lambda r: r[2])
    run.details["setup"] = {**run.setup_parts, "rollup.refresh_s": refresh_s}
    run.details["check_s"] = time.perf_counter() - t_check

    e2e = end_to_end(run, latencies, wall, cpu, setup_s)
    if not run.traced:
        replay.close()
        return e2e

    # -- traced: re-issue each bucket spec through the rollup router ----
    route_s = []
    for idx in sorted(expected):
        req = pool[idx]
        if req["method"] != "POST" or not req["body"]["fields"]:
            continue
        with tracer.span("rollup.route", op=f"route-{idx}"):
            t0 = time.perf_counter()
            rows = [r.asDict() for r in route_tick_query(spark, db_path, req["body"]).collect()]
            route_s.append(time.perf_counter() - t0)
        run.check(matches(rows, expected[idx][1]), f"routed {req['body']}")
    replay.close()

    spans = tracer.by_name()
    execs = spans.get("tickquery.exec", [])
    reads = spans.get("ingest.read_ticks", [])
    kids = tracer.children()
    server_self = []
    for root in spans.get("http", []):
        layer = sum(
            k.end - k.start
            for srv in kids.get(id(root), [])
            for k in kids.get(id(srv), [])
        )
        server_self.append((root.end - root.start) - layer)
    values = {
        "server.self_s": _median(server_self),
        "server.errors": errors,
        "api.get.s": _median(s.end - s.start for s in spans.get("api.get", [])),
        "api.query.s": _median(s.end - s.start for s in spans.get("api.query", [])),
        "ingest.read_ticks.s": _median(s.end - s.start for s in reads),
        "ingest.read_ticks.files": _median(s.attrs["files"] for s in reads),
        "ingest.read_ticks.dedup_share": sum(s.attrs["dedup"] for s in reads) / max(1, len(reads)),
        "tickquery.plan_s": _median(s.end - s.start for s in spans.get("tickquery.plan", [])),
        "tickquery.exec_s": _median(s.end - s.start for s in execs),
        "rollup.hit_ratio": sum(s.attrs["routed"] for s in execs) / max(1, len(execs)),
        "rollup.route.s": _median(route_s),
        "rollup.refresh.s": refresh_s,
        "ingest.append_batch.s": run.setup_parts["ingest.append_batch_s"],
        "rollup.files_per_series": _files_per_series(os.path.join(db_path, "rollups")),
    }
    run.details.setdefault("bases", {}).update({
        "rollup.hit_ratio": {"routed": sum(s.attrs["routed"] for s in execs), "bucket_queries": len(execs)},
        "ingest.read_ticks.dedup_share": {"calls": len(reads)},
        "rollup.route": {"specs": len(route_s)},
    })
    return _finish_trace(run, values, windows)


def _files_per_series(rollups: str) -> int:
    """Most parquet files any one series holds in any rollup level."""
    most = 0
    if not os.path.isdir(rollups):
        return 0
    for level in os.listdir(rollups):
        ldir = os.path.join(rollups, level)
        if not os.path.isdir(ldir):
            continue
        for sdir in os.listdir(ldir):
            if sdir.startswith("series="):
                most = max(most, _tree(os.path.join(ldir, sdir))[0])
    return most


# ---------------------------------------------------------------------------
# opbank
# ---------------------------------------------------------------------------

#: (registry entry, module whose code it exercises). Every entry has an
#: oracle; together they cover ``metrics.MODULES``.
OPBANK_ENTRIES = (
    ("tick_rolling_p90", "operators.timeseries"),
    ("diag_lsh_parameter_plan", "operators.planner"),
    ("select_mmr_diverse_topk", "operators.diversify"),
    ("media_audio_features", "operators.mediacodec"),
    ("text_quality_metrics", "functions.text"),
    ("sample_hash_deterministic", "operators.sampling"),
    ("decontaminate_bloom_prefilter", "operators.decontam"),
    ("stream_stateful_spike_detect", "streaming.stateful"),
    ("text_quality_perceptron", "operators.perceptron"),
)

#: Timed passes a run makes even when they outlast ``--seconds``.
OPBANK_MIN_PASSES = 2

#: Tables of the committed sf0.01 extract under ``data/``.
TABLES = ("events", "documents", "embeddings")


def opbank(run) -> dict:
    """Passes, in a fresh session, over ``OPBANK_ENTRIES``: construct each
    registry entry and collect its output to the driver, where the check
    compares it with the entry's oracle. The first pass warms the JVM and
    the Python workers and counts in ``setup_s``; then passes repeat until
    ``--seconds`` have gone by, ``OPBANK_MIN_PASSES`` at least. The
    operation the end-to-end metrics count is one pass."""
    from tickdb_spark import cachereg
    from tickdb_spark.querybank import REGISTRY

    # the inputs are the committed tables, the same for every seed; the
    # order is fixed too, so each entry pays the same share of warm-up
    order = list(OPBANK_ENTRIES[:3] if run.tiny else OPBANK_ENTRIES)
    run.details["input"] = {
        "entries": [n for n, _m in order],
        "bytes": sum(os.path.getsize(os.path.join(gen.DATA_DIR, f"{t}.parquet")) for t in TABLES),
    }

    session_s = run.setup_sessions()
    spark, tracer = run.spark, run.tracer
    fills = evictions = 0
    if run.traced:
        orig_persist = cachereg.corpus_persist

        def corpus_persist(df, *a, **kw):
            nonlocal fills, evictions
            live = set(cachereg._LIVE)
            out = orig_persist(df, *a, **kw)
            fills += 1
            evictions += len(live - set(cachereg._LIVE))
            return out

        rebind(orig_persist, corpus_persist)

    outputs = []
    construct_s = run_s = 0.0
    per_module: dict[str, float] = {m: 0.0 for m in MODULES}

    def one_pass(p: int) -> dict[str, float]:
        nonlocal construct_s, run_s
        entry_s = {}
        for name, module in order:
            t0 = time.perf_counter()
            with tracer.span("entry", op=f"p{p}-{name}"):
                with tracer.span("opbank.construct"):
                    df = REGISTRY[name].fn(spark, gen.DATA_DIR)
                t1 = time.perf_counter()
                with tracer.span("opbank.run"):
                    out = df.toPandas()
            t2 = time.perf_counter()
            entry_s[name] = round(t2 - t0, 4)
            if p:
                construct_s += t1 - t0
                run_s += t2 - t1
                per_module[module] += t2 - t0
            outputs.append((name, out))
        return entry_s

    t0 = time.perf_counter()
    warm = one_pass(0)
    setup_s = session_s + (time.perf_counter() - t0)

    passes, pass_s = [], []
    deadline = time.perf_counter() + run.seconds
    cpu0, t_start = run.cpu_s(), time.perf_counter()
    # two passes at least: the first timed pass still runs code the JIT is
    # compiling, so on a slow host a run of one pass cost about 10% more
    # per pass than a run of two
    while len(pass_s) < OPBANK_MIN_PASSES or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        passes.append(one_pass(len(passes) + 1))
        pass_s.append(time.perf_counter() - t0)
    wall, cpu = time.perf_counter() - t_start, run.cpu_s() - cpu0
    run.details["entry_s"] = {"warm": warm, "timed": passes}
    run.details["setup"] = {**run.setup_parts, "warm_pass_s": setup_s - session_s}
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    persisted_bytes = sum(
        i.memSize() + i.diskSize() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )

    # -- correctness, outside the timed passes: each output, warm pass
    # included, equals its registered oracle SQL run by DuckDB over the
    # same tables
    t_check = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{gen.DATA_DIR}/{t}.parquet')")
    assert_frames_match = _parity_rule()
    oracle = {name: con.execute(REGISTRY[name].oracle).df() for name, _m in order}
    con.close()
    passed: dict[str, list] = {}
    for name, out in outputs:
        # an output identical to one that already passed passes too
        ok = any(out.equals(prev) for prev in passed.get(name, ()))
        if not ok:
            try:
                # the rule takes a Spark frame; hand it the collected one
                collected = types.SimpleNamespace(toPandas=lambda out=out: out)
                assert_frames_match(collected, oracle[name])
                ok = True
                passed.setdefault(name, []).append(out)
            except (AssertionError, TypeError, ValueError):
                pass
        run.check(ok, f"opbank {name}")
    run.details["check_s"] = time.perf_counter() - t_check

    # one operation is one pass over the list, the batch a user waits for
    e2e = end_to_end(run, pass_s, wall, cpu, setup_s)
    if not run.traced:
        return e2e
    n = len(pass_s)
    values = {
        "opbank.construct_s": construct_s / n,
        "opbank.run_s": run_s / n,
        **{f"{m}.s": v / n for m, v in per_module.items()},
        "cachereg.fills": fills,
        "cachereg.evictions": evictions,
        "cachereg.persisted_rdds_end": persisted,
        "cachereg.persisted_bytes_end": persisted_bytes,
    }
    run.details.setdefault("bases", {})["opbank.timed_passes"] = n
    # Spark counters of one timed pass: the same jobs on every run
    return _finish_trace(run, values, {}, roots=("entry",), ops="p1-")


def _parity_rule():
    """``assert_frames_match`` of the program's own oracle tests
    (``tests/conftest.py``): same column set and row count, equal values
    after sorting rows and columns, floats approximately, and an integer
    column never equal to a float one (a hash of the raw values would differ)."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("perfbench_parity", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.assert_frames_match


WORKLOADS = {"serve": serve, "opbank": opbank}
