"""Property-based engine≡oracle tests (SURVEY.md §5 strategy item 3).

Hypothesis generates adversarial tick batches — out-of-order timestamps,
duplicate timestamps across batches (LWW), sparse field maps, bucket-edge
timestamps — which are ingested through the real write path and queried
through the real read path; DuckDB computes the same query over the same
raw batch stream with LWW resolved declaratively."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tickdb_spark.api import TickDB
from tickdb_spark.ingest import manifest
from tickdb_spark.rollup import RollupStore, route_tick_query
from tickdb_spark.schema import NS_PER_SECOND

BASE = 1470092400  # 2016-08-01T23:00:00Z: batches cross midnight
FIELDS = ("x", "y")
SERIES = ("s", "a:b")  # the queried series, and one Spark escapes on disk

# One doc: series, offset seconds (covers ~2 hours incl. exact minute
# edges), sub-second ns, and a sparse field map.
doc_st = st.fixed_dictionaries(
    {
        "series": st.sampled_from(SERIES),
        "off": st.integers(min_value=0, max_value=7200),
        "sub_ns": st.sampled_from([0, 1_000, 999_000, 500_000_000, 999_999_000]),
        "fields": st.dictionaries(
            st.sampled_from(FIELDS),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
            min_size=1,
        ),
    }
)

batches_st = st.lists(st.lists(doc_st, min_size=1, max_size=25), min_size=1, max_size=4)


def _oracle(batches: list[list[dict]], group_s: int) -> pd.DataFrame:
    rows = []
    for seq, batch in enumerate(batches):
        # within-batch: last doc wins per ts (mirrors normalize_docs)
        per_ts: dict[int, tuple] = {}
        for d in batch:
            if d["series"] != "s":
                continue
            ts = (BASE + d["off"]) * NS_PER_SECOND + d["sub_ns"]
            per_ts[ts] = (ts, seq, d["fields"].get("x"), d["fields"].get("y"))
        rows.extend(per_ts.values())
    raw = pd.DataFrame(rows, columns=["ts", "seq", "x", "y"])
    con = duckdb.connect()
    con.register("raw", raw)
    return con.execute(
        f"""
        WITH lww AS (
          SELECT ts, x, y,
                 row_number() OVER (PARTITION BY ts ORDER BY seq DESC) AS rn
          FROM raw
        )
        SELECT (ts // {group_s * NS_PER_SECOND}) * {group_s * NS_PER_SECOND} AS bucket,
               CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS x_sum,
               COUNT(x) AS x_count,
               MIN(x) AS x_min,
               arg_max(y, CASE WHEN y IS NOT NULL THEN ts END) AS y_last
        FROM lww WHERE rn = 1
        GROUP BY bucket ORDER BY bucket
        """
    ).df()


@pytest.fixture(scope="module")
def tdb_factory(spark, tmp_path_factory):
    def make():
        return TickDB(spark, str(tmp_path_factory.mktemp("prop")))

    return make


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(batches=batches_st)
def test_engine_matches_oracle_on_random_batches(batches, tdb_factory):
    tdb = tdb_factory()
    tdb.create_db("p")
    path = tdb.catalog._existing("p")
    # an empty batch, then the first batch again into its own partitions
    batches = [*batches, [], batches[0]]
    for batch in batches:
        docs = [
            {
                "time": (BASE + d["off"]) * NS_PER_SECOND + d["sub_ns"],
                "index": d["series"],
                "value": d["fields"],
            }
            for d in batch
        ]
        before = {tuple(p) for p in manifest(path)["dirty"]}
        tdb.put("p", docs)
        # the commit added files in exactly this batch's (series, dt), and
        # dirty grew by them
        m = manifest(path)
        files = {f["path"]: f for f in m["tables"]["ticks"]}
        touched = {(files[p]["series"], files[p]["dt"]) for p in m["commit"]["added"]}
        assert touched == {
            (d["series"], str(dt.datetime.fromtimestamp(BASE + d["off"], dt.timezone.utc).date()))
            for d in batch
        }
        assert {tuple(p) for p in m["dirty"]} == before | touched

    out = tdb.query(
        "p",
        {
            "index": "s",
            "from": BASE * NS_PER_SECOND,
            "to": (BASE + 8000) * NS_PER_SECOND,
            "group": "minute",
            "fields": {"x": ["sum", "count", "min"], "y": "last"},
            "exact": True,
        },
    ).toPandas()
    expected = _oracle(batches, 60)
    _assert_matches(out, expected, ["bucket", "x_sum", "x_count", "x_min", "y_last"])

    # the same minutes answered from the minute level: the oracle groups
    # over every row, so minutes holding only y answer too
    RollupStore(tdb.spark, path).refresh(("minute",))
    routed = route_tick_query(tdb.spark, path, {
        "index": "s",
        "from": BASE * NS_PER_SECOND,
        "to": (BASE + 7260) * NS_PER_SECOND,
        "group": "minute",
        "fields": {"x": ["sum", "count", "min"]},
        "exact": True,
    })
    assert any("/rollups/minute/" in f for f in routed.inputFiles())
    _assert_matches(routed.toPandas(), expected, ["bucket", "x_sum", "x_count", "x_min"])


def _assert_matches(out: pd.DataFrame, expected: pd.DataFrame, cols: list[str]) -> None:
    assert len(out) == len(expected)
    for col in cols:
        a, b = out[col].reset_index(drop=True), expected[col].reset_index(drop=True)
        both_nan = a.isna() & b.isna()
        if a.dtype.kind == "f":
            close = (a - b).abs() <= 1e-9 * (b.abs() + 1)
            assert (both_nan | close).all(), (col, a[~(both_nan | close)], b[~(both_nan | close)])
        else:
            assert (both_nan | (a == b)).all(), (col, a, b)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)),
        min_size=0,
        max_size=25,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """Spark hash-min label propagation ≡ a pure-Python union-find on
    random graphs over 20 nodes (self-loops and duplicate edges legal)."""
    from tickdb_spark.operators.cluster import connected_components

    parent = list(range(20))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(20)}
    # canonicalize: min member per component
    comp_min = {}
    for i, r in expected.items():
        comp_min.setdefault(r, i)
    expected = {i: comp_min[r] for i, r in expected.items()}

    nodes = spark.createDataFrame([(i,) for i in range(20)], ["id"])
    pairs = (
        spark.createDataFrame(edges, ["id_a", "id_b"])
        if edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(nodes, pairs, id_col="id").collect()
    }
    assert got == expected
