"""Format-agnostic readers/writers.

The reference's only I/O is HTTP+JSON in, JSON out, and its custom chunk
file (``storage/chunk.go``) — replaced wholesale by Spark's columnar
formats (SURVEY.md §1.1, S9/S10). This module is the thin seam where the
engine meets storage formats:

* ``read_any`` / ``write_any`` — parquet (default), orc, json, csv with
  explicit schemas (inference is banned in pipelines: one bad file can
  silently retype a column across a 100 TB read).
* ``read_tick_docs`` — ingest-doc batches (the HTTP POST body shape,
  ``database.go:24-28``) from json/csv landing files → normalized tick
  rows, reusing the streaming normalizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_FORMATS = ("parquet", "orc", "json", "csv")


def read_any(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (one of {_FORMATS})")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("json", "csv"):
        raise ValueError(f"{fmt} requires an explicit schema (no inference in pipelines)")
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).load(path)


def write_any(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "error", **options) -> None:
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format: {fmt!r} (one of {_FORMATS})")
    writer = df.write.format(fmt).mode(mode)
    if fmt == "csv":
        options.setdefault("header", "true")
    writer.options(**options).save(path)


def read_tick_docs(spark: SparkSession, path: str, fmt: str = "json", **options) -> DataFrame:
    """Read ingest-doc batches ({time, index, value{}}) and normalize to
    canonical tick rows (series, ts, ts_utc, value). CSV carries the field
    map flattened as ``field:value`` pairs is not supported — use json."""
    from tickdb_spark.streaming.ingest import STREAM_DOC_SCHEMA, normalize_stream

    docs = read_any(spark, path, fmt=fmt, schema=STREAM_DOC_SCHEMA, **options)
    return normalize_stream(docs)
