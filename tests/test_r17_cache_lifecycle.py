"""Lifecycle of the ``cachereg`` registry (session-scoped memos, bounded
corpus substrates, dedup pair frames, ``evict_all``) and the CC
local-path schema parameterization (VERDICT r16 ask #4)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import types as T

from tickdb_spark import cachereg
from tickdb_spark.operators.cluster import _cc_local_labels


def test_corpus_persist_evicts_past_slot_cap(spark, monkeypatch):
    cachereg.evict_all()
    monkeypatch.setattr(cachereg, "CORPUS_CACHE_SLOTS", 2)
    frames = [
        cachereg.corpus_persist(spark.range(10 + i).toDF("v")) for i in range(3)
    ]
    # Oldest evicted, newest two still cached.
    assert not frames[0].storageLevel.useMemory
    assert frames[1].storageLevel.useMemory
    assert frames[2].storageLevel.useMemory
    # Results stay correct after eviction (just recomputed).
    assert frames[0].count() == 10
    cachereg.evict_all()
    assert not frames[2].storageLevel.useMemory


def test_corpus_persist_lazy_registers_too(spark, monkeypatch):
    cachereg.evict_all()
    monkeypatch.setattr(cachereg, "CORPUS_CACHE_SLOTS", 1)
    a = cachereg.corpus_persist(spark.range(5).toDF("v"), materialize=False)
    b = cachereg.corpus_persist(spark.range(6).toDF("v"), materialize=False)
    assert not a.storageLevel.useMemory
    assert b.storageLevel.useMemory
    cachereg.evict_all()


def test_corpus_persist_same_plan_shares_one_slot(spark, monkeypatch):
    """Detector helpers are called once per consumer entry; every call
    builds a NEW DataFrame over the SAME plan. Those must share one
    registry slot (CacheManager dedupes them to one InMemoryRelation) —
    per-object slots would evict a relation other handles still serve
    (measured r17: the shared corpus gram table was evicted mid-bench
    by nine same-plan detector registrations)."""
    cachereg.evict_all()
    monkeypatch.setattr(cachereg, "CORPUS_CACHE_SLOTS", 2)
    shared = cachereg.corpus_persist(spark.range(42).toDF("v"))
    # five same-plan registrations (new DataFrame objects each time)
    for _ in range(5):
        cachereg.corpus_persist(spark.range(7).toDF("v"))
    # the shared substrate survives: the five calls consumed ONE slot
    assert shared.storageLevel.useMemory
    cachereg.evict_all()


def test_evict_all_clears_memos_and_unpersists_every_frame(spark):
    """evict_all is the one eviction path: after it no memo, corpus
    substrate or dedup pair frame stays registered, and every frame the
    registry persisted is unpersisted."""
    from pyspark.storagelevel import StorageLevel

    from tickdb_spark.operators.dedup import ngram_jaccard_pairs

    cachereg.evict_all()
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")], "doc_id long, text string"
    )
    grams = cachereg.memo(
        spark, ("evict_test",), lambda: cachereg.corpus_persist(spark.range(9).toDF("v"))
    )
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", 0.3)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
    frames = list(cachereg._LIVE.values()) + list(cachereg._KEPT.values())
    assert grams in frames and pairs in frames
    assert all(f.storageLevel != StorageLevel.NONE for f in frames)

    cachereg.evict_all()
    assert not cachereg._MEMO and not cachereg._LIVE and not cachereg._KEPT
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)


#: Fills the trainer memos, restarts the session the way a stop-then-
#: start caller does, and asks again: the memo must not return the
#: first session's checkpointed frames.
_RESTART_PROBE = textwrap.dedent(
    """
    from tickdb_spark import querybank as Q
    from tickdb_spark.session import get_spark

    def trained(spark):
        docs = Q._read(spark, SF, "documents")
        return Q._unigram_vocab(docs, SF), Q._bpe_trained(docs, SF)[0]

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    first = trained(spark)
    counts = [f.count() for f in first]
    spark.stop()
    spark = get_spark(master="local[2]", shuffle_partitions=2)
    again = trained(spark)
    assert [a.count() for a in again] == counts
    assert all(a is not f for a, f in zip(again, first))
    spark.stop()
    """
)


def test_memo_is_never_returned_under_a_new_session():
    """A stopped session's checkpointed frames are dead; a memo filled in
    it must be refilled, not returned, after a restart. Runs in its own
    interpreter so the suite's shared session is not stopped."""
    from tests.conftest import SF_SMOKE

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    code = f"SF = {SF_SMOKE!r}\n" + _RESTART_PROBE
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]


@pytest.mark.parametrize(
    "dtype", [T.LongType(), T.IntegerType(), T.StringType()]
)
def test_cc_local_labels_schema_follows_id_type(spark, dtype):
    # Symmetric edge rows for {1-2, 2-3} plus isolated-in-edges 7-7 loopback.
    def v(x):
        return str(x) if isinstance(dtype, T.StringType) else x

    rows = [
        {"u": v(1), "v": v(2)},
        {"u": v(2), "v": v(1)},
        {"u": v(2), "v": v(3)},
        {"u": v(3), "v": v(2)},
    ]
    out = _cc_local_labels(spark, rows, id_type=dtype)
    assert out.schema["id"].dataType == dtype
    assert out.schema["component"].dataType == dtype
    got = {(r["id"], r["component"]) for r in out.collect()}
    assert got == {(v(1), v(1)), (v(2), v(1)), (v(3), v(1))}
