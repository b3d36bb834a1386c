"""Plan-shape regression tests: the properties that make these queries
viable at 100 TB, asserted against the actual physical plans."""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT
from tickdb_spark.plans import count_op, physical_plan, pushed_filters, scan_read_schemas
from tickdb_spark.querybank import REGISTRY


def _df(spark, name):
    return REGISTRY[name].fn(spark, SF_CORRECT)


def test_tick_bucket_pushdown_and_pruning(spark):
    df = _df(spark, "tick_bucket_hour_sum")
    pf = " ".join(pushed_filters(df))
    # series equality + both ts range bounds must reach the parquet scan
    assert "EqualTo(event_type,click)" in pf
    assert "GreaterThanOrEqual(ts," in pf and "LessThan(ts," in pf
    # column pruning: only the three needed columns are read
    (schema,) = scan_read_schemas(df)
    assert "ts" in schema and "event_type" in schema and "value" in schema
    assert "props" not in schema and "user_id" not in schema
    # exactly partial-agg + final-agg (one data shuffle); the at-most-one-
    # row-per-bucket answer is sorted within one partition, not globally
    assert count_op(df, "HashAggregate") == 2
    assert count_op(df, "Exchange") == 1
    assert "rangepartitioning" not in physical_plan(df).lower()


def test_point_get_no_shuffle(spark):
    df = _df(spark, "tick_point_get")
    assert count_op(df, "Exchange") == 0
    pf = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(ts," in pf  # ns-range addressing pushed down


def test_star_joins_broadcast(spark):
    for name in ("tpch_q3_shipping_priority", "tpch_q5_regional_revenue"):
        df = _df(spark, name)
        assert count_op(df, "SortMergeJoin") == 0, name
        assert count_op(df, "BroadcastHashJoin") >= 2, name


def test_q5_fact_scans_do_not_shuffle_for_joins(spark):
    # all 6 relations joined; only the aggregate + order need exchanges
    df = _df(spark, "tpch_q5_regional_revenue")
    assert count_op(df, "Exchange") <= 2


def test_asof_single_shuffle(spark):
    # as-of join = union + one hash-partitioned window: exactly one
    # data shuffle (plus the final presentation sort)
    df = _df(spark, "asof_purchase_last_click")
    assert count_op(df, "Window") == 1
    assert count_op(df, "Exchange") <= 2
    assert count_op(df, "SortMergeJoin") == 0


def test_date_filter_pushed_in_q1(spark):
    df = _df(spark, "tpch_q1_pricing_summary")
    pf = " ".join(pushed_filters(df))
    assert "LessThanOrEqual(l_shipdate," in pf
    (schema,) = scan_read_schemas(df)
    assert "l_orderkey" not in schema  # pruned: Q1 never reads the key


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh_pairs",
        "sim_ann_topk_lsh",
        "sim_ann_topk_lsh_multitable",
        "dedup_simhash_near_pairs",
    ],
)
def test_lsh_family_avoids_cartesian(spark, name):
    df = _df(spark, name)
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_rangejoin_is_hash_join(spark):
    # the bucket-expansion construction must plan as an equi (hash/SMJ)
    # join, never the nested-loop theta join Spark would pick for a raw
    # BETWEEN condition
    df = _df(spark, "rangejoin_click_attribution")
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert count_op(df, "CartesianProduct") == 0


def test_q6_full_pushdown_single_scan(spark):
    df = _df(spark, "tpch_q6_revenue_forecast")
    pf = " ".join(pushed_filters(df))
    assert "GreaterThanOrEqual(l_shipdate," in pf and "LessThan(l_shipdate," in pf
    assert "LessThan(l_quantity," in pf
    (schema,) = scan_read_schemas(df)
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in schema
    assert "l_orderkey" not in schema  # pruned


def test_hash_sample_no_shuffle(spark):
    # a deterministic sample must stay a pure filter over the scan
    df = _df(spark, "sample_hash_deterministic")
    assert count_op(df, "Exchange") <= 1  # only the presentation sort


def test_q4_semi_join_shape(spark):
    df = _df(spark, "tpch_q4_order_priority")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_ngram_prefix_join_no_cartesian(spark):
    df = _df(spark, "dedup_ngram_jaccard_pairs")
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_ivf_trained_single_equijoin_no_bnlj(spark):
    """The production IVF shape (trained centroids) must keep the fixed-
    centroid plan: one hash equi-join on cell, never a nested loop."""
    from tickdb_spark.operators.kmeans import kmeans_fit
    from tickdb_spark.operators.similarity import ann_topk_ivf

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    cents = kmeans_fit(emb, k=4, max_iter=1, sample_fraction=0.5)
    df = ann_topk_ivf(emb, [0, 1, 2], k=5, centroids=cents)
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert count_op(df, "CartesianProduct") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_cosine_tiled_gemm_distributed_shape(spark):
    """The tiled candidate pass must be a grouped applyInPandas (block
    pairs), not a driver collect: plan shows FlatMapGroupsInPandas and
    no nested-loop join; the exact re-score joins back by id (hash)."""
    df = _df(spark, "sim_cosine_neardup_pairs")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert count_op(df, "CartesianProduct") == 0


def test_unpivot_single_scan_no_join(spark):
    """Melt is an Expand/Generate over one scan — no join, one data
    shuffle for the final aggregate."""
    df = _df(spark, "unpivot_lineitem_metrics")
    assert count_op(df, "Join") == 0
    (schema,) = scan_read_schemas(df)
    assert "l_shipdate" not in schema  # pruning survives the unpivot


def test_bucketed_join_zero_exchange(spark):
    """Bucketed tables (16 buckets, sorted on the key) must sort-merge
    join with NO exchange and NO sort — the clustering was paid at write
    time. Only the final aggregate/order may shuffle."""
    df = _df(spark, "join_bucketed_colocated")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2  # both scans use the buckets
    assert count_op(df, "Exchange") <= 2  # agg + presentation sort only
    # the join subtree (printed after the SortMergeJoin node) holds only
    # scans and local sorts — the clustering shuffle was paid at write
    join_subtree = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_subtree


def test_q18_no_fact_broadcast(spark):
    # the HAVING survivors broadcast; lineitem/orders never do
    df = _df(spark, "tpch_q18_large_volume_customers")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one lineitem aggregation feeds both the filter and the output qty
    assert count_op(df, "CartesianProduct") == 0


def test_chunk_sliding_scan_speed_shape(spark):
    """Chunking must stay a pure posexplode projection: no join, no
    aggregate, only the presentation sort's exchange; the scan reads
    only (doc_id, text)."""
    df = _df(spark, "text_chunk_sliding")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "CartesianProduct") == 0
    assert "Join" not in plan
    assert count_op(df, "Exchange") <= 1  # presentation sort only
    (schema,) = scan_read_schemas(df)
    assert "doc_id" in schema and "text" in schema
    assert "lang" not in schema and "source" not in schema  # pruned


def test_split_assign_pure_projection(spark):
    """Split assignment itself is a stateless projection — the only
    shuffles in the gate query belong to the report aggregation."""
    from tickdb_spark.operators.sampling import split_assign

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    df = split_assign(docs, "doc_id", [("train", 0.9), ("val", 0.05), ("test", 0.05)])
    assert count_op(df, "Exchange") == 0
    assert count_op(df, "CartesianProduct") == 0


def test_json_props_prunes_and_stays_codegen(spark):
    """from_json with a pinned schema is a JVM-side projection: only the
    needed columns are read, no UDF in the plan, one agg shuffle."""
    df = _df(spark, "json_props_extract")
    plan = df._jdf.queryExecution().executedPlan().toString()
    (schema,) = scan_read_schemas(df)
    assert "props" in schema and "event_type" in schema and "value" in schema
    assert "ts" not in schema and "user_id" not in schema  # pruned
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert count_op(df, "HashAggregate") == 2  # partial + final only


def test_bpe_encode_projection_shape(spark):
    """Encoding under a trained merge list must be a pure projection +
    one aggregation — no joins against the merge table (merges are
    literals), no cartesian products."""
    from tickdb_spark.operators.bpe import bpe_encode_token_counts

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    merges = [("l", "o", 6), ("lo", "w", 6), ("e", "w", 3)]
    df = bpe_encode_token_counts(docs, merges)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "HashAggregate") == 2


def test_int8_ann_joins_are_broadcast(spark):
    """The quantized scan must broadcast the (tiny) query side — never a
    shuffled join or a cartesian product over the corpus."""
    df = _df(spark, "sim_ann_topk_int8")
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "SortMergeJoin") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_equidepth_scale_no_window_no_global_sort(spark):
    """The scale-path equi-depth histogram must never plan the exact
    form's single-partition window: the corpus pass is scan -> literal
    CASE -> hash aggregate (cuts were resolved driver-side from the
    bounded sample). The exact-ntile entry stays as the semantic pin;
    this guards the production path against regressing into it."""
    df = _df(spark, "agg_equidepth_scale")
    assert count_op(df, "Window") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(value" not in plan.lower()
    assert count_op(df, "HashAggregate") == 2  # partial + final, one shuffle
    # only the two needed columns are read
    from tickdb_spark.plans import scan_read_schemas

    for schema in scan_read_schemas(df):
        assert "props" not in schema and "user_id" not in schema


def test_gapfill_multiseries_windows_are_partitioned(spark):
    """Every window in the multi-series gap-fill must partition by the
    series column — the single-partition-window shape of the single-
    series helpers is exactly what this operator exists to avoid at
    dashboard scale (10k series × spine)."""
    df = _df(spark, "tick_gapfill_multiseries")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") >= 1
    for line in plan.splitlines():
        if "Window " in line:
            assert "event_type" in line.split("], [")[1], line


def test_anomaly_zscore_windows_partitioned_no_global_sort(spark):
    """The rolling z-score windows must all partition by the series
    column (a partition-less frame would serialize the metrics stream
    through one task at 100 TB), and the flag math must stay in
    whole-stage codegen — no Python, no joins."""
    df = _df(spark, "tick_anomaly_zscore")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") >= 1
    for line in plan.splitlines():
        if "Window " in line:
            assert "event_type" in line.split("], [")[1], line
    assert count_op(df, "Join") == 0
    assert "InMemoryTableScan" not in plan and "mapInPandas" not in plan


def test_token_budget_window_partitioned(spark):
    """Token-budget mixing: one window, partitioned by the stratum
    column; the scan reads only the three projected columns."""
    df = _df(spark, "sample_token_budget")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") == 1
    for line in plan.splitlines():
        if "Window " in line:
            assert "source" in line.split("], [")[1], line
    from tickdb_spark.plans import scan_read_schemas

    for schema in scan_read_schemas(df):
        assert "text" not in schema  # never reads the payload column


def test_repetition_metrics_no_join_two_aggregates(spark):
    """Repetition metrics are explode + two hash aggregates — no join,
    no window, no cartesian anywhere (the per-doc argmax is a pure
    aggregate, not a self-join)."""
    df = _df(spark, "text_repetition_metrics")
    assert count_op(df, "Join") == 0
    assert count_op(df, "Window") == 0
    assert count_op(df, "CartesianProduct") == 0


def test_bigram_familiarity_hash_joins_only(spark):
    """LM scoring joins doc-bigrams to the model with equi-joins only
    (broadcast or shuffled-hash/sort-merge) — a nested-loop here would
    be corpus x model."""
    df = _df(spark, "text_bigram_familiarity")
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_q2_no_cartesian_window_partitioned(spark):
    """Q2's correlated-min is a part-partitioned window over the already-
    joined candidates — no cartesian, no partition-less window, fact
    side never broadcast."""
    df = _df(spark, "tpch_q2_min_cost_supplier")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "CartesianProduct") == 0
    for line in plan.splitlines():
        if "Window " in line:
            assert "p_partkey" in line.split("], [")[1], line


def test_q21_single_fact_pass_no_self_join(spark):
    """Q21's EXISTS/NOT-EXISTS pair must collapse into per-order
    aggregates — the textbook formulation self-joins lineitem twice
    (3 fact passes); this plan reads lineitem ONCE."""
    df = _df(spark, "tpch_q21_waiting_suppliers")
    from tickdb_spark.plans import scan_read_schemas

    fact_scans = [s for s in scan_read_schemas(df) if "l_orderkey" in s]
    assert len(fact_scans) == 1
    assert count_op(df, "CartesianProduct") == 0


def test_q16_anti_join_broadcast(spark):
    """The NOT-IN complaint filter must plan as a broadcast anti-join
    against the tiny negative-balance supplier set, not a shuffle."""
    df = _df(spark, "tpch_q16_supplier_part_counts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_rolling_median_windows_partitioned(spark):
    """Rolling median: series-partitioned window only, no join, no
    Python — the sorted-window element stays in codegen."""
    df = _df(spark, "tick_rolling_median")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") >= 1
    for line in plan.splitlines():
        if "Window " in line:
            assert "event_type" in line.split("], [")[1], line
    assert count_op(df, "Join") == 0 and "mapInPandas" not in plan


def test_interval_overlap_join_equality_confined(spark):
    """The interval-overlap join must plan as an equi-join on
    (key, bucket) — a theta overlap predicate alone would be a
    nested-loop/cartesian."""
    df = _df(spark, "rangejoin_interval_overlap")
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


@pytest.mark.parametrize("name", ["tick_gapfill_locf", "tick_gapfill_interp"])
def test_single_series_gapfill_gate_takes_single_chunk_fast_path(spark, name):
    """The gate spines fit one chunk (≤65536 buckets), so the r8 fast
    path must apply: every window chunk-partitioned, and the cross-chunk
    directory machinery (carry windows, second scan of the bucketed
    frame, broadcast of the carry) entirely absent."""
    df = _df(spark, name)
    plan = df._jdf.queryExecution().executedPlan().toString()
    saw_chunked = False
    for line in plan.splitlines():
        if "Window " not in line:
            continue
        parts = line.split("], [")
        assert len(parts) >= 3 and "_chunk" in parts[1], (
            f"partition-less window in single-chunk {name}: {line}"
        )
        saw_chunked = True
    assert saw_chunked, plan
    for tag in ("__carry_", "__pb_c", "__pv_c_", "__nb_c", "__nv_c_"):
        assert tag not in plan, f"directory carry survived the fast path: {tag}"


def _big_spine_gapfill(spark, fill_fn):
    """A >1-chunk spine built directly against the operator (the gate
    SFs never exceed one chunk): 3·65536 one-ns buckets, sparse obs."""
    from pyspark.sql import functions as F

    from tickdb_spark.operators import timeseries as ts

    n = 3 * ts._CHUNK_BUCKETS
    obs = spark.range(0, n, 7919).select(
        F.col("id").alias("bucket"), (F.col("id") % 100).cast("double").alias("v")
    )
    return fill_fn(obs, 0, n, 1, ["v"])


@pytest.mark.parametrize("fn_name", ["gapfill_locf", "gapfill_interp"])
def test_large_spine_gapfill_keeps_chunked_carry_shape(spark, fn_name):
    """For spines larger than one chunk the two-phase shape must remain:
    spine windows chunk-partitioned; the only partition-less windows are
    the cross-chunk carries over the chunk directory (|spine|/65536
    rows). A partition-less window over the spine itself is the
    single-partition shape VERDICT r6 flagged."""
    from tickdb_spark.operators import timeseries as ts

    df = _big_spine_gapfill(spark, getattr(ts, fn_name))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") >= 2
    saw_chunked = saw_carry = False
    for line in plan.splitlines():
        if "Window " not in line:
            continue
        parts = line.split("], [")
        if len(parts) >= 3 and "_chunk" in parts[1]:
            saw_chunked = True  # spine window, chunk-partitioned
            continue
        assert any(
            tag in line
            for tag in ("__carry_", "__pb_c", "__pv_c_", "__nb_c", "__nv_c_")
        ), f"partition-less non-carry window in {fn_name}: {line}"
        saw_carry = True
    assert saw_chunked and saw_carry, plan


@pytest.mark.parametrize("fn_name", ["gapfill_locf", "gapfill_interp"])
def test_gapfill_fast_path_values_equal_chunked_path(spark, fn_name):
    """The single-chunk fast path and the forced-chunked path must emit
    identical rows (the carry is vacuous for one chunk, NULL-extending
    for many): run the same spine both ways by flipping _CHUNK_BUCKETS."""
    from pyspark.sql import functions as F

    from tickdb_spark.operators import timeseries as ts

    n = 400
    obs = spark.range(0, n, 37).select(
        F.col("id").alias("bucket"), (F.col("id") % 90).cast("double").alias("v")
    )
    fill = getattr(ts, fn_name)
    fast = fill(obs, 0, n, 1, ["v"]).collect()  # n << 65536: fast path
    orig = ts._CHUNK_BUCKETS
    try:
        ts._CHUNK_BUCKETS = 64  # force 7 chunks through the carry path
        chunked = fill(obs, 0, n, 1, ["v"]).collect()
    finally:
        ts._CHUNK_BUCKETS = orig
    assert sorted(map(tuple, fast)) == sorted(map(tuple, chunked))


def test_ivf_pairs_cell_confined_no_cartesian(spark):
    """IVF pair mining must be ONE grouped GEMM per cell (a single
    cell-keyed exchange into FlatMapGroupsInPandas) — never a
    cartesian/nested-loop or self-join over the corpus, and no distinct
    stage (the min-common-probe anchor collapses multi-probe duplicates
    inside the tile)."""
    from tickdb_spark.operators.similarity import cosine_neardup_pairs_ivf

    emb = spark.read.parquet(SF_CORRECT + "/embeddings.parquet")
    df = cosine_neardup_pairs_ivf(emb, 0.4)
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "HashAggregate" not in plan, "unexpected aggregate (distinct?) stage"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_sessionize_windows_user_partitioned(spark):
    """Both sessionization windows (lag mark + running session number)
    must partition by user_id — a partition-less window would serialize
    the whole event stream through one task."""
    df = _df(spark, "analytics_sessionize")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window " in line:
            assert "user_id" in line.split("], [")[1], line
    assert count_op(df, "CartesianProduct") == 0


def test_bloom_decontam_shuffled_verify_join(spark):
    """The Bloom path's POINT is the cost model: the bitmap probe is an
    Arrow-batched pandas filter and the exact verification joins the
    PARTITIONED eval grams (shuffled hash join) — never a broadcast of
    the gram set, never a cartesian."""
    df = _df(spark, "decontaminate_bloom_prefilter")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan  # vectorized bitmap probe
    assert "ShuffledHashJoin" in plan  # the verify join, eval side partitioned
    assert count_op(df, "CartesianProduct") == 0


def test_triangle_counts_two_equijoins_no_cartesian(spark):
    """Triangle counting must stay wedge-equi-join + closure semi-join:
    no cartesian/nested-loop anywhere in the plan."""
    df = _df(spark, "graph_triangle_counts")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the closure check
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_pagerank_equijoins_only(spark):
    """Every PageRank iteration must be a hash equi-join (ranks x
    degree-annotated edges) + a partial-aggregable sum — a nested loop
    or cartesian would be edges x nodes per iteration."""
    df = _df(spark, "graph_pagerank_neardup")
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_pack_sequences_one_shuffle_no_window(spark):
    """Greedy packing is one hash repartition on the bucket key into a
    per-bucket Arrow scan: no window over the global corpus, no join,
    no sort exchange (rangepartitioning) anywhere."""
    df = _df(spark, "pack_sequences_greedy")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") == 0
    assert count_op(df, "Join") == 0
    assert "rangepartitioning" not in plan.lower()
    assert count_op(df, "Exchange") <= 2  # repartition + groupBy co-planned


def test_reservoir_per_key_window_key_partitioned(spark):
    """The per-key reservoir's only shuffle is the key-partitioned
    window — no global sort, no join."""
    df = _df(spark, "sample_reservoir_per_key")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Join") == 0
    for line in plan.splitlines():
        if "Window " in line:
            assert "lang" in line.split("], [")[1], line


def test_substring_dedup_hash_only_shuffle_no_cartesian(spark):
    """The stride-1 window stream must shed the window TEXT before the
    rank shuffle (only the md5 + coordinates may cross the wire), and
    the islands join must stay an equi-join."""
    df = _df(spark, "dedup_substring_rolling")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "chunk_text" not in line, line


def test_global_shuffle_index_no_data_global_window(spark):
    """Contiguous global numbering must come from the bucket
    decomposition: the window over the DATA partitions by the hash
    bucket; the only unpartitioned window sits above the n_buckets-row
    directory aggregate (its child contains the count aggregate, never
    a scan)."""
    df = _df(spark, "order_global_shuffle_index")
    plan = df._jdf.queryExecution().executedPlan().toString()
    data_windows = dir_windows = 0
    for line in plan.splitlines():
        if "Window " in line:
            groups = line.split("], [")
            # partitioned windows print [fns], [partition], [order];
            # unpartitioned ones omit the partition group
            if len(groups) >= 3 and "_bkt#" in groups[1]:
                data_windows += 1
            else:
                dir_windows += 1
    assert data_windows == 1 and dir_windows == 1, plan
    assert count_op(df, "CartesianProduct") == 0
    assert "BroadcastHashJoin" in plan  # directory offsets broadcast back


def test_pq_adc_join_shape(spark):
    """PQ ADC must be codes ⋈ broadcast LUT + one partial-aggregable
    BIGINT sum — no cartesian, no nested loop, LUT broadcast."""
    df = _df(spark, "sim_ann_pq_adc")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert "BroadcastHashJoin" in plan  # the LUT


def test_lsh_multitable_probe_reads_stored_signatures(spark):
    """The multi-table LSH probe must read the MATERIALIZED signature
    table (ingest-time stored column), not re-derive buckets from raw
    vectors: the candidate side scans a gate_media_lsh_sigs parquet with
    only (vec_id, table_id, bucket), and the corpus-wide transform/
    posexplode signature kernel is absent from the probe plan."""
    df = _df(spark, "sim_ann_topk_lsh_multitable")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "gate_media_lsh_sigs" in plan, "probe does not scan the stored signatures"
    # the signature derivation (nested-array literal fold + posexplode)
    # must not run inside the probe
    assert "posexplode" not in plan.lower(), plan[:2000]
    schemas = scan_read_schemas(df)
    sig_scans = [s for s in schemas if "table_id" in s and "bucket" in s]
    assert sig_scans, schemas
    assert all("embedding" not in s for s in sig_scans), (
        "signature scan drags raw vectors"
    )
    assert count_op(df, "CartesianProduct") == 0


def test_dsir_weights_broadcast_no_cartesian(spark):
    """DSIR's weight table (256 rows) must broadcast onto the feature
    stream; no cartesian/nested-loop anywhere; the top-k is TakeOrdered,
    not a global sort exchange."""
    df = _df(spark, "select_dsir_importance")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, "top-k fell back to a global sort"


def test_hll_single_data_scan(spark):
    """The HLL gate plan must read event DATA exactly once: the register
    grid derives from the aggregate side, so any extra scan may read
    ZERO columns (struct<> — an existence-only footer read for the
    constant-folded group list), never the corpus columns twice."""
    df = _df(spark, "agg_hll_distinct_userdays")
    schemas = scan_read_schemas(df)
    data_scans = [s for s in schemas if s not in ("struct<>",)]
    assert len(data_scans) == 1, schemas
    assert count_op(df, "CartesianProduct") <= 1  # groups x range(m) grid is tiny


def test_lttb_single_series_shuffle_before_kernel(spark):
    """LTTB must hash-shuffle on the series key once and run the
    sequential kernel per series — no data-wide window, no sort
    exchange over the points."""
    df = _df(spark, "tick_downsample_lttb")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "Window") == 0
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert count_op(df, "CartesianProduct") == 0


def test_zorder_stats_single_aggregate_shape(spark):
    """The z-order stats plan: bounds broadcast onto the scan, one hash
    aggregate to 64 ranges, no joins beyond the broadcast."""
    df = _df(spark, "layout_zorder_stats")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "SortMergeJoin") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") <= 1  # 1-row bounds
    assert count_op(df, "HashAggregate") >= 2  # partial + final


def test_kmv_checkpoint_reused_across_consumers(spark):
    """The KMV gate plan must read the CHECKPOINTED distinct-hash frame
    (ExistingRDD scans), not re-derive the distinct per consumer — the
    subtree re-execution trap."""
    df = _df(spark, "sketch_kmv_audience_jaccard")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan[:1500]
    # the raw events parquet feeds only the checkpoint build, which ran
    # eagerly-lazily before this plan — so the probe itself reads NO
    # events parquet
    assert "events.parquet" not in plan


def test_pmi_collocations_all_broadcast(spark):
    """PMI collocation mining: the vocab-bounded unigram table joins
    onto bigram counts by BROADCAST (twice), the two 1-row totals
    broadcast, and the top-50 is TakeOrdered — no sort-merge join, no
    global sort exchange over the pair table."""
    df = _df(spark, "text_pmi_collocations")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "SortMergeJoin") == 0
    assert count_op(df, "BroadcastHashJoin") >= 2
    assert count_op(df, "CartesianProduct") == 0
    assert "TakeOrderedAndProject" in plan, "top-k fell back to a global sort"


def test_auc_window_over_aggregate_only(spark):
    """The AUC rank-sum window must run over the per-(source, distinct
    score) AGGREGATE, partitioned by source — never a data-wide or
    partition-less window over the corpus."""
    df = _df(spark, "eval_quality_auc")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the Window's child must contain the score aggregate, i.e. a
    # HashAggregate appears below the Window operator
    assert count_op(df, "Window") == 1
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan[win_pos:], "window not over the aggregate"
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "SortMergeJoin") == 0


def test_phash_pairs_banded_equijoin_no_cartesian(spark):
    """Hamming-ball pairing must come from (block_idx, block_val)
    equality joins over the signature table — never an all-pairs
    product over the corpus."""
    df = _df(spark, "media_phash_neardup_pairs")
    assert count_op(df, "CartesianProduct") == 0
    assert count_op(df, "BroadcastNestedLoopJoin") == 0


def test_quantize_to_grid_exact_past_2_53(spark):
    """ADVICE r8 regression pin: the grid quantizer must use integer
    division on the Spark side — floor of a double division diverges
    from DuckDB's // once (v-lo)*2^bits exceeds 2^53. Checked against
    python's exact // on values straddling the boundary."""
    import duckdb
    from pyspark.sql import functions as F

    from tickdb_spark.operators.layout import quantize_to_grid, quantize_to_grid_sql

    # (v - lo) * 65536 lands just above 2^53 for v-lo around 137438953473
    cases = [
        (137438953473 + d, 0, 137438953600, 3)  # (v, lo, hi, divisor-ish)
        for d in range(-2, 3)
    ] + [(9007199254740993 // 65536 + d, 0, 2**47, 7) for d in range(-2, 3)]
    rows = [(v, lo, hi) for v, lo, hi, _ in cases]
    df = spark.createDataFrame(rows, "v long, lo long, hi long")
    got = [
        r[0]
        for r in df.select(
            quantize_to_grid(F.col("v"), F.col("lo"), F.col("hi")).alias("q")
        ).collect()
    ]
    want = [((v - lo) * 65536) // (hi - lo + 1) for v, lo, hi in rows]
    assert got == want
    con = duckdb.connect()
    oracle = [
        con.execute(
            f"SELECT {quantize_to_grid_sql(str(v), str(lo), str(hi))}"
        ).fetchone()[0]
        for v, lo, hi in rows
    ]
    assert oracle == want


def test_lsh_signature_encode_matches_literal_table(spark):
    """The incremental maintenance encoder (planes as a broadcast column)
    must produce bit-identical buckets to the literal-expression batch
    kernel — the property that makes the maintained index equal the
    batch-built one."""
    from tickdb_spark.operators.similarity import (
        lsh_signature_encode,
        lsh_signature_table,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    a = {(r[0], r[1]): r[2] for r in lsh_signature_table(emb).collect()}
    b = {(r[0], r[1]): r[2] for r in lsh_signature_encode(emb).collect()}
    assert a == b and len(a) > 0


def test_bm25_filters_before_shuffle_and_broadcasts_small_sides(spark):
    """BM25's 100-TB shape: the corpus token explode is FILTERED to the
    query terms BEFORE the tf aggregate's exchange (the shuffle is sized
    by matching rows, not vocabulary), and the df + query-term tables
    join as broadcasts (no corpus-sized shuffle joins)."""
    df = _df(spark, "text_bm25_retrieval")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert count_op(df, "BroadcastHashJoin") >= 2
    assert count_op(df, "CartesianProduct") == 0
    # the isin() filter on the exploded token sits under the aggregate:
    # find the Generate (explode) fragment and demand the IN-list filter
    # next to it rather than above the exchange
    low = plan.lower()
    gen = low.find("generate explode")
    assert gen != -1
    # plans print top-down: the filter node sits immediately ABOVE the
    # explode, i.e. just BEFORE it in the string, and below the exchange
    filt = low.rfind("filter token#", 0, gen)
    assert filt != -1 and gen - filt < 300, "token filter not directly above explode"
    assert "inset" in low[filt:gen] or " in " in low[filt:gen]


def test_join_size_estimate_never_joins_the_inputs(spark):
    """The CMS join-size estimate must never materialize the estimated
    join: no join keyed on the raw key column between the two input
    scans except the per-key-count equi-join for exact_rows, and no
    cartesian products; the sketch dot joins (depth, bucket) frames."""
    df = _df(spark, "diag_join_size_estimate")
    assert count_op(df, "CartesianProduct") == 0
    # join count is bounded: sketch dot (1) + the depth-spine left join
    # (zero-overlap depths must contribute dot=0 to the min, r10 ADVICE
    # fix) + exact per-key counts (1) + the singleton crossJoin-broadcast
    # combine (1)
    n_joins = (
        count_op(df, "BroadcastHashJoin")
        + count_op(df, "SortMergeJoin")
        + count_op(df, "ShuffledHashJoin")
        + count_op(df, "BroadcastNestedLoopJoin")
    )
    assert n_joins <= 4, n_joins


def test_boilerplate_detection_shuffles_hashes_not_text(spark):
    """Boilerplate detection must never shuffle raw line text: every
    hashpartitioning clause keys on (host, _id, _lh) BIGINT/key columns
    only. Line strings only appear exemplar-side, joined back from the
    tiny surviving template set via a broadcast semi-filter."""
    import re

    from tickdb_spark.functions.web import (
        boilerplate_lines,
        detect_boilerplate_hashes,
    )
    from tickdb_spark.plans import physical_plan

    df = (
        spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
        .selectExpr("doc_id", "source", "text AS text2")
    )
    frames = [
        detect_boilerplate_hashes(df, "source", "doc_id", "text2"),
        boilerplate_lines(df, "source", "doc_id", "text2"),
    ]
    saw_clause = 0
    for frame in frames:
        plan = physical_plan(frame)
        for clause in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
            saw_clause += 1
            assert "line#" not in clause and "text" not in clause, clause
    assert saw_clause >= 3  # detection distinct + count aggs actually planned


def test_ann_filtered_route_plans(spark):
    """Selective route: the predicate reaches the Parquet scan and no
    IVF probe explode exists. Broad route: the predicate STILL reaches
    the scan (filtered rows are never centroid-scored) and the probe
    explode + cell join are present."""
    sel = _df(spark, "sim_ann_filtered_selective")
    pf = " ".join(pushed_filters(sel))
    assert "EqualTo(label,5)" in pf
    assert count_op(sel, "Generate") == 0  # no probe explode on prefilter

    broad = _df(spark, "sim_ann_filtered_broad")
    pf2 = " ".join(pushed_filters(broad))
    assert "GreaterThanOrEqual(label,2)" in pf2
    assert count_op(broad, "Generate") >= 1  # probe explode present


def test_split_leakage_plain_side_joins_nothing(spark):
    """The plain-method audit row computes both endpoints' splits as
    inline CASEs of the pair row — the corpus is never joined for it.
    The whole audit (incl. the safe row's two component joins) stays on
    the pair graph: no join's build side is the documents table."""
    from pyspark.sql import functions as F

    from tickdb_spark.operators.sampling import split_expr

    p2 = spark.range(10).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    splits = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    plain_only = p2.agg(
        F.count(F.when(split_expr(F.col("id_a"), splits)
                       != split_expr(F.col("id_b"), splits), 1)).alias("c")
    )
    assert count_op(plain_only, "Join") == 0
    assert count_op(plain_only, "Exchange") <= 1  # the 1-row combine


def test_mmr_indexed_candidates_no_corpus_cosine(spark):
    """VERDICT r15 ask #3: the index-sourced batch MMR must never score
    the whole corpus — its candidate frame's corpus-sized stages are
    equi-joins on the stored (table_id, bucket) signature column and on
    cid (no BroadcastNestedLoopJoin, which is exactly the stage shape
    the brute mmr_select_batch pays for its full cosine scan)."""
    from tickdb_spark.operators.diversify import _index_candidates
    from tickdb_spark.operators.similarity import lsh_signature_table

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    sig = lsh_signature_table(emb)
    df = _index_candidates(emb, sig, [1, 5, 9], 32, "vec_id", "embedding")
    assert count_op(df, "BroadcastNestedLoopJoin") == 0
    assert count_op(df, "BroadcastHashJoin") >= 2  # bucket probe + qvec join
