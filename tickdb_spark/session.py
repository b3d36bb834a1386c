"""SparkSession factory with scale-conscious defaults.

Local testing runs ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, skew-join handling on, UTC
session timezone for deterministic calendar bucketing — the reference
buckets in server-local time, a quirk we deliberately fix; see
SURVEY.md B7, reference ``timeutil.go:56-71``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Cluster-oriented knobs that hold at any scale. Values that must vary
#: with cluster size (shuffle partitions) are set relative to parallelism.
_BASE_CONF = {
    # AQE re-plans at runtime: coalesces small shuffle partitions, converts
    # sort-merge joins to broadcast when the built side turns out small,
    # and splits skewed partitions — all essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic UTC calendar bucketing (SURVEY.md B7).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for every pandas exchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown is on by default; make the intent explicit.
    "spark.sql.parquet.filterPushdown": "true",
    # 128 MB split target — the right granularity for large scans.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Parquet TIMESTAMP(NANOS) columns (e.g. the driver's events table)
    # surface as BIGINT epoch-ns — the engine's native tick resolution.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (``cachereg``'s policy docstring): Spark's
    # default of 100 classes is below this engine's working set. One
    # opbank pass generates 163 classes; serve's set-up 40 and one round
    # over its 42-request pool 146 more. At 100, LRU evicted them between
    # passes, so Janino recompiled 78-105 classes per later opbank pass
    # and 120 per serve round, and the JIT warmed each new class again;
    # at this size a second pass compiles none.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def size_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string (``134217728``, ``128m``,
    ``512MB``, ``1g``) the way ``JavaUtils.byteStringAsBytes`` does."""
    s = value.strip().lower()
    for suffix, mult in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if s.endswith(suffix):
            return int(s[: -len(suffix)]) * mult
    return int(s)


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet file at ``path``, or of every ``.parquet``
    file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def scan_splits(spark: SparkSession, nbytes: int) -> int:
    """ceil(``nbytes`` / ``maxPartitionBytes``): about how many splits a
    scan of that many parquet bytes is cut into."""
    max_split = size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    return -(-nbytes // max_split)


def get_spark(
    app_name: str = "tickdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the test/bench environment; on a real cluster the caller passes
    nothing and spark-submit supplies the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster would size this to 2-3× total cores
        # (AQE coalescing makes over-provisioning cheap).
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = 32 if inner in ("", "*") else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema):
    """DataFrame over DRIVER-LOCAL rows (a computed fixpoint, a greedy
    selection) as ONE partition.

    ``createDataFrame(list)`` parallelizes into defaultParallelism
    Python partitions, and every downstream action then pays one Python
    worker round-trip PER PARTITION to convert the pickled rows — under
    the ``coalesce(1)`` the display-sized outputs all end with, the 32
    round-trips run SEQUENTIALLY in one task (measured: 3.7 s for a
    2000-row local frame vs 0.24 s evaluated in parallel, pagerank's
    run span 5.2 s -> ~0.3 s with one slice). Driver-local results are
    one partition's worth of data by construction; ship them as one."""
    sc = spark.sparkContext
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(sc.parallelize(list(rows), 1), schema)
