"""Streaming incremental deduplication — the streaming face of
``operators/dedup.incremental_exact_dedup``.

A document stream dedups continuously against a persistent fingerprint
table: each micro-batch (1) elects within-batch canonical keepers (min id
per content hash), (2) anti-joins the keepers against the seen-hash
table, (3) appends survivors to the kept output and their hashes to the
fingerprint table. ``foreachBatch`` is the Structured Streaming idiom for
this read-modify-append sink shape. Writes are IDEMPOTENT per epoch
(each batch's files replace the ones its epoch wrote before, and the
anti-join reads every epoch EXCEPT its own; ``streaming/index.py``
states the epoch-log format), so a crash between the writes' commits
and the checkpoint commit re-runs the epoch to the same state: a plain
append would let the re-run see its own partial fingerprint write and
either duplicate or silently drop keepers.

Scale: state is externalized to the fingerprint table (16 bytes/doc in
parquet, bucketable by hash for a co-located join) instead of Spark
streaming state, so the dedup horizon is unbounded — a watermarked
``dropDuplicates`` would bound memory by silently forgetting old hashes,
which is exactly wrong for corpus dedup. The batch side of every join is
the small side.

Determinism (what makes this oracle-checkable): the file source processes
landing files in modification-time order, one per trigger; if every
duplicate group's minimum-id member lands in a file no later than its
duplicates (the gate plants files that way — originals in id-range order,
echoes in the last file), the kept set is exactly "min doc_id per
content hash" over the whole stream, a plain window the SQL oracle
states directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickdb_spark.streaming.index import (
    _drain_landing,
    _log_dir,
    _read_maintained,
    _write_epoch,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
    ]
)

_FP_SCHEMA = T.StructType([T.StructField("content_hash", T.StringType(), False)])


def stream_dedup_ingest(
    spark: SparkSession,
    landing_dir: str,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Run the dedup stream to completion (availableNow) and return the
    kept-set DataFrame ``(doc_id, content_hash)``.

    ``work_dir`` holds the three durable pieces: ``kept/`` (survivor
    rows), ``fingerprints/`` (the seen-hash table new batches anti-join
    against) and ``checkpoint/`` (stream progress).
    """
    from tickdb_spark.operators.dedup import incremental_exact_dedup

    # Derive the kept-table read schema from the LANDING schema's id
    # field (ADVICE r10): pinning LongType here would silently misread
    # the kept files if the landing id type ever changes — the two
    # schemas must agree by construction, not by parallel edits.
    landing_schema = batch_schema(id_col, text_col)
    kept_schema = T.StructType(
        [
            landing_schema[id_col],
            T.StructField("content_hash", T.StringType(), False),
        ]
    )
    kept_dir = _log_dir(work_dir, "kept")
    fp_dir = _log_dir(work_dir, "fingerprints")

    def handle(batch: DataFrame, epoch_id: int) -> None:
        seen = _read_maintained(
            batch.sparkSession, fp_dir, _FP_SCHEMA, exclude_epoch=epoch_id
        )
        res = incremental_exact_dedup(batch, seen, text_col, id_col)
        keepers = res.where(F.col("is_new")).select(id_col, "content_hash")
        # persist before the writes: both must see the same batch
        # result, and hashes feed the NEXT batch's anti-join only (within
        # this batch, exact_dedup_groups already collapsed duplicates)
        keepers.persist()
        _write_epoch(keepers, kept_dir, epoch_id)
        _write_epoch(keepers.select("content_hash"), fp_dir, epoch_id)
        keepers.unpersist()

    ckpt_dir = os.path.join(work_dir, "checkpoint")
    _drain_landing(spark, landing_dir, landing_schema, ckpt_dir, handle)
    return _read_maintained(spark, kept_dir, kept_schema)


def batch_schema(id_col: str = "doc_id", text_col: str = "text") -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField(text_col, T.StringType(), True),
        ]
    )
