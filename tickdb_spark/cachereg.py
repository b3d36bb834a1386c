"""The one owner of state reused across registry entries.

Entries of one session share derived state: a planted warehouse, trained
tokenizer or classifier state, a corpus gram table, verified detector
pairs; the reads of a long-lived server share table scans. Each kind
lives here under one stated policy, so no operator or query module keeps
a memo of its own (``tests/test_cache_ownership.py`` enforces that).

**Memos** — ``memo(spark, key, fill)`` returns the value filled for
``key`` in ``spark``'s SparkContext, calling ``fill()`` on a miss.

* *Key*: ``(applicationId, *key)``. The caller's ``key`` names the site
  and its inputs (``("unigram_vocab", sf_dir)``).
* *Session scope*: a value filled under one SparkContext is never
  returned under another. The first miss under a new context drops every
  memo of the old one: its checkpointed frames and metastore tables are
  gone with it, and a path fixture is rebuilt rather than trusted.
* *Storage level*: whatever ``fill`` returns. The memo persists nothing
  itself; a frame that must stay materialized is checkpointed or
  ``corpus_persist``-ed by its fill.
* *Eviction*: a context change, or ``evict_all()``.

**Corpus substrates** — ``corpus_persist(df)`` for corpus-token-sized
frames (exploded shingles, n-gram streams) that several consumer stages
and entries read.

* *Key*: the plan's semantic hash, not ``id(df)``. Detector helpers
  build a new DataFrame over the same plan for every consumer entry, and
  Spark's CacheManager dedupes those to one InMemoryRelation; a
  per-object key would burn a slot per call and, on eviction, unpersist
  a relation other handles still serve. A re-registration refreshes
  recency.
* *Storage level*: ``MEMORY_AND_DISK``, stated rather than inherited:
  evicted blocks spill instead of being recomputed, because every holder
  feeds several parallel consumer stages of one action (a
  recompute-on-miss level pays the tokenize per consumer exactly when
  memory is tight). Materialized eagerly by default for the same reason.
* *Eviction*: FIFO past ``CORPUS_CACHE_SLOTS`` substrates, so the cache
  footprint is bounded by ``slots x substrate size`` however long the
  session runs; the oldest is the least likely to serve upcoming
  entries. A session over many corpora materializes the substrate as an
  intermediate table instead. Also ``evict_all()``.

**Dimension frames** — ``dimension_persist(df)`` for frames that
outlive one entry but whose size follows the output, not token volume
(the dedup detectors' verified pairs).

* *Key*: the plan's semantic hash, as above.
* *Storage level*: ``DataFrame.cache()``'s, lazily: the first consuming
  action materializes it once per session.
* *Eviction*: ``evict_all()`` only; the number of distinct detector
  plans is small and fixed.

**Table scans** — ``table_scan(spark, key, version, build)`` returns
the base relation of one warehouse table (``spark.read.parquet`` of the
files its database's manifest lists), rebuilt only when the table
changes, so a long-lived reader runs no file-listing or
schema-inference job per request.

* *Key*: ``(applicationId, table path, read schema)``.
* *Version*: the table's file set in the manifest the caller read
  (``ingest.read_table``); the frame is built over exactly those files.
  Every write job names its files with a fresh UUID, so any append,
  delete, compaction, expiry, index drop or rollup refresh that touches
  the table changes it; no clock, mtime or counter is involved, and a
  version always matches its frame.
* *One value per key*: ``(version, frame)`` is stored as one tuple, so a
  reader thread never sees a new version with an old frame; a new
  version replaces the old value.
* *Storage level*: none. The frame holds the plan and Spark's listed
  file index, never data.
* *Eviction*: a context change, or ``evict_all()``.

**Generated classes** — the Janino-compiled classes of whole-stage code
generation and generated projections. Nothing here holds them; they are
listed so that this cache too has a stated owner and size.

* *Owner*: Spark's JVM-wide ``CodeGenerator`` cache. It is sized when
  the JVM generates its first class, so only sessions ``get_spark``
  builds get the size below; a session someone else builds first keeps
  Spark's default (100).
* *Key*: the generated source (with the loading class loader). Long and
  date literals are inlined into the source, so only identical plans
  hit: a sliding-window read whose bounds move with every request never
  does.
* *Capacity*: ``spark.sql.codegen.cache.maxEntries`` in
  ``session._BASE_CONF`` (1000), above the measured working sets (163
  classes per opbank pass; 40 for serve's set-up plus 146 per round over
  its request pool), so a repeated plan compiles once per JVM.
* *Eviction*: least recently used, once the cache is full (Guava's
  per-segment approximation). Nothing evicts it on a context change:
  the classes outlive sessions in the same JVM.

Out of scope: persistence inside one entry's plan (``.cache()`` or
``localCheckpoint`` of a frame several branches of one action read)
belongs to that plan. Never memoize an entry's own output frame: that
memoizes the benchmark.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

#: Corpus substrates held at once; see the module docstring.
CORPUS_CACHE_SLOTS = 8

_MEMO: dict[tuple, Any] = {}

#: Live corpus substrates by plan key, oldest first.
_LIVE: "OrderedDict[int, DataFrame]" = OrderedDict()

#: Live dimension frames by plan key.
_KEPT: dict[int, DataFrame] = {}

#: Table scans: key -> (version, frame), one value per key.
_SCANS: dict[tuple, tuple[Any, DataFrame]] = {}
_SCANS_LOCK = threading.Lock()


def memo(spark: SparkSession, key: tuple, fill: Callable[[], Any]) -> Any:
    """The value memoized under ``key`` in ``spark``'s SparkContext,
    filled by ``fill()`` on a miss."""
    app = spark.sparkContext.applicationId
    ck = (app, *key)
    if ck not in _MEMO:
        for stale in [k for k in _MEMO if k[0] != app]:
            del _MEMO[stale]
        _MEMO[ck] = fill()
    return _MEMO[ck]


def table_scan(
    spark: SparkSession, key: tuple, version: Any, build: Callable[[], DataFrame]
) -> DataFrame:
    """The frame built for ``key`` at ``version`` in ``spark``'s
    SparkContext, calling ``build()`` when the stored version differs."""
    app = spark.sparkContext.applicationId
    ck = (app, *key)
    with _SCANS_LOCK:
        hit = _SCANS.get(ck)
        if hit is not None and hit[0] == version:
            return hit[1]
        for stale in [k for k in _SCANS if k[0] != app]:
            del _SCANS[stale]
        frame = build()
        _SCANS[ck] = (version, frame)
        return frame


def _plan_key(df: DataFrame) -> int:
    try:
        return int(df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        return id(df)  # degraded mode: per-object key (still bounded)


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session torn down; nothing to reclaim


def corpus_persist(df: DataFrame, materialize: bool = True) -> DataFrame:
    """Persist a corpus-token-sized substrate under the policy above and
    return it, materialized unless ``materialize`` is false."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    if materialize:
        df.count()
    key = _plan_key(df)
    _LIVE.pop(key, None)  # re-registration refreshes recency
    _LIVE[key] = df
    while len(_LIVE) > CORPUS_CACHE_SLOTS:
        _unpersist(_LIVE.popitem(last=False)[1])
    return df


def dimension_persist(df: DataFrame) -> DataFrame:
    """Cache a dimension-sized frame under the policy above and return it."""
    _KEPT[_plan_key(df)] = df.cache()
    return df


def evict_all() -> None:
    """Drop every memo and table scan and unpersist every frame
    registered here."""
    _MEMO.clear()
    with _SCANS_LOCK:
        _SCANS.clear()
    while _LIVE:
        _unpersist(_LIVE.popitem(last=False)[1])
    while _KEPT:
        _unpersist(_KEPT.popitem()[1])
