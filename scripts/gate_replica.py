"""Local replica of the driver's CORRECTNESS gate.

Runs registry entries against the DuckDB oracle at sf0.01, mirroring the
driver's compare (row count + column-name set + column-sorted values +
dtype-kind). Usage:

    python scripts/gate_replica.py            # head-50 (what the driver samples)
    python scripts/gate_replica.py all        # every registry entry
    python scripts/gate_replica.py name1 name2 ...   # specific entries
    python scripts/gate_replica.py --reaching fn1,fn2  # entries reaching fn1/fn2

``--reaching`` selects the entries whose construction reaches any of
the named functions or classes (a ``__qualname__`` such as ``compact``,
``RollupStore.refresh`` or ``RollupStore``, or one prefixed with its
module) by walking code objects' global and attribute names
transitively through ``tickdb_spark``; it prints them before running.
"""

import argparse
import importlib
import inspect
import os
import sys
import time
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as E

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _package_object(obj) -> bool:
    return (inspect.isfunction(obj) or inspect.isclass(obj)) and (
        getattr(obj, "__module__", "") or ""
    ).startswith(("tickdb_spark", "__spark_entry__"))


def _package_module(name: str):
    """The package module a function-local ``import tickdb_spark.x``
    names, imported if no code has imported it yet."""
    if name == "tickdb_spark" or name.startswith("tickdb_spark."):
        return importlib.import_module(name)
    return None


def _named(fn) -> list:
    """The package functions and classes that ``fn``'s code names: its
    globals and attributes of the package modules it names
    (``_ingest.append_batch``, ``from tickdb_spark.ingest import
    compact``), over its nested code objects too."""
    fn = inspect.unwrap(fn)
    found = []
    codes = [fn.__code__]
    while codes:
        code = codes.pop()
        codes += [c for c in code.co_consts if isinstance(c, types.CodeType)]
        scope = [fn.__globals__.get(n, _package_module(n)) for n in code.co_names]
        modules = [
            m for m in scope
            if isinstance(m, types.ModuleType) and m.__name__.startswith("tickdb_spark")
        ]
        found += [o for o in scope if _package_object(o)]
        found += [
            o for m in modules for n in code.co_names
            if _package_object(o := getattr(m, n, None))
        ]
    return found


def reaching(targets: set[str], entries: dict) -> list[str]:
    """Names of ``entries`` (registry name -> construction function) whose
    construction reaches one of ``targets``."""
    named: dict[int, list] = {}

    def refs(obj) -> list:
        if id(obj) not in named:
            if inspect.isclass(obj):
                members = [m for c in obj.__mro__ for m in vars(c).values()]
                members = [getattr(m, "__func__", getattr(m, "fget", m)) for m in members]
                named[id(obj)] = [m for m in members if _package_object(m)]
            else:
                named[id(obj)] = _named(obj)
        return named[id(obj)]

    out = []
    for name, fn in entries.items():
        seen, stack = set(), [fn]
        while stack:
            obj = stack.pop()
            if id(obj) in seen:
                continue
            seen.add(id(obj))
            if {obj.__qualname__, f"{obj.__module__}.{obj.__qualname__}"} & targets:
                out.append(name)
                break
            stack += refs(obj)
    return out


def _driver_like_spark():
    """A PLAIN SparkSession, exactly the shape the driver builds — NOT
    ``get_spark``. The driver owns its session and sets nothing beyond
    master + shuffle partitions; entries must survive that (querybank
    pins what it needs at runtime). Replicating with get_spark's tuned
    confs hid a real red for a full round: a non-Arrow ``toPandas``
    materializes float32 arrays as doubles and the streaming landing
    files then mismatch their declared array<float> schema
    (CORRECTNESS_r09 stream_{ann,pq})."""
    from pyspark.sql import SparkSession

    # SPARK_GRAFT_SHUFFLE lets the portability check run the same replica
    # at a cluster-shaped partition count (e.g. 200) — flushes any plan or
    # correctness assumption accidentally pinned to the small local count
    spark = (
        SparkSession.builder.appName("gate_replica")
        .master("local[8]")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE", "8"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _entries(argv: list[str], qs: dict) -> list[str]:
    """The registry entries the command line names; exits (usage or an
    error) before any Spark session starts."""
    p = argparse.ArgumentParser(
        description="Run registry entries against the DuckDB oracle.",
        epilog="With no entry and no --reaching: the head-50 the driver samples.",
    )
    p.add_argument("names", nargs="*", metavar="entry", help="registry entries, or 'all'")
    p.add_argument(
        "--reaching", metavar="FN,FN",
        help="the entries whose construction reaches these functions or classes",
    )
    a = p.parse_args(argv)
    if a.reaching is not None:
        if a.names:
            p.error("give entry names or --reaching, not both")
        names = reaching(set(a.reaching.split(",")), qs)
        print(f"{len(names)} entries reach {a.reaching}: {' '.join(names)}")
        return names
    if a.names == ["all"]:
        return list(qs)
    unknown = [n for n in a.names if n not in qs]
    if unknown:
        p.error(f"unknown entries: {' '.join(unknown)}")
    return a.names or list(qs)[:50]


def main() -> int:
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    qs, osql = E.queries(), E.oracle_sql()
    names = _entries(sys.argv[1:], qs)
    spark = _driver_like_spark()

    def oracle(sql: str):
        # fresh connection per oracle, like the driver's per-entry
        # subprocess: a long-lived connection accumulates buffer state
        # across 50 heavy replays and eventually fails tiny allocations
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            # spill instead of OOM on the heavy replay oracles (in-memory
            # DuckDB cannot offload without a temp dir)
            con.execute("SET temp_directory='/tmp/duck_spill'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
                )
            return con.execute(sql).df()
        finally:
            con.close()

    n_red = 0
    results = {}
    for n in names:
        t0 = time.time()
        try:
            sdf = qs[n](spark, sf).toPandas()
            if n not in osql:
                # replay the driver's rows-only canonicalization too: it
                # sorts the pandas frame over all columns, which dies on
                # unhashable cells (array/map columns) — the exact class
                # of red that hit agg_approx_sketches three times
                cols = sorted(sdf.columns)
                sdf[cols].sort_values(cols).reset_index(drop=True)
                print(f"{n:42s} rows-only {len(sdf):6d}  {time.time()-t0:5.1f}s")
                results[n] = {"status": "rows-only", "rows": len(sdf),
                              "sec": round(time.time() - t0, 1)}
                continue
            odf = oracle(osql[n])
            cols = sorted(sdf.columns)
            s = sdf[cols].sort_values(cols).reset_index(drop=True)
            o = odf[cols].sort_values(cols).reset_index(drop=True)
            pd.testing.assert_frame_equal(s, o, check_dtype=False)
            assert all(s[c].dtype.kind == o[c].dtype.kind for c in cols), (
                f"dtype-kind mismatch: "
                f"{[(c, s[c].dtype, o[c].dtype) for c in cols]}"
            )
            print(f"{n:42s} GREEN     {len(sdf):6d}  {time.time()-t0:5.1f}s")
            results[n] = {"status": "GREEN", "rows": len(sdf),
                          "sec": round(time.time() - t0, 1)}
        except Exception as e:  # noqa: BLE001 — report-and-continue harness
            n_red += 1
            msg = str(e).split("\n")[0][:160]
            print(f"{n:42s} RED  {type(e).__name__}: {msg}")
            results[n] = {"status": "RED", "err": f"{type(e).__name__}: {msg}"}
    out = os.environ.get("GATE_REPLICA_JSON")
    if out:
        import json

        with open(out, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
    print(f"\n{len(names)} entries, {n_red} red")
    return 1 if n_red else 0


if __name__ == "__main__":
    sys.exit(main())
