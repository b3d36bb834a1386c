"""Similarity search over embedding columns (array<float>).

Two tiers, as a 100 TB pipeline needs:

* **Brute-force cosine top-k** — exact baseline. The query set is small
  (broadcast); the corpus streams through one scan with the dot product
  evaluated JVM-side. Cost O(|Q|·N·d): right for |Q| in the thousands.
* **LSH-bucketed top-k** — random-hyperplane signatures (precomputed,
  deterministic literals shared with the oracle); candidates restricted to
  the query's bucket. Cost drops to O(N·planes·d) for signatures + a
  bucket-equality join. Recall is tunable via number of planes/tables.
* **embedding cosine near-dup pairs** — the dedup use-case: all pairs with
  cosine ≥ τ. Brute-force here; the LSH bucket join is the scale path.

Cross-engine determinism: dot products are emitted as EXPLICIT left-
associative term sums over double-cast elements (generated from one
Python helper for both Spark and DuckDB), so both engines fold floats in
the same order → identical doubles.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMB_DIM = 64
# 4 planes → 16 buckets: at the test corpus sizes this keeps enough
# vectors per bucket for useful recall; a 100 TB corpus would raise
# planes (finer buckets) and add multiple hash tables for recall.
N_PLANES = 4


def _hyperplanes(n: int = N_PLANES, dim: int = EMB_DIM, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes, shared by engine and oracle."""
    rng = random.Random(seed)
    return [[round(rng.uniform(-1.0, 1.0), 4) for _ in range(dim)] for _ in range(n)]


HYPERPLANES = _hyperplanes()


def dot_expr(a: str, b: str, dim: int = EMB_DIM, sql: bool = False) -> str:
    """Left-associative dot product; ``a``/``b`` are array expressions.

    DuckDB side: explicit term list (1-based lists). Spark side: a
    ``zip_with`` + ``aggregate`` left fold — the identical summation
    order (foldLeft), so the doubles are bit-identical to the literal
    expansion (verified) while the generated code stays tiny. The
    64-dim literal expansion costs ~2 s of janino compilation PER QUERY
    and breaches the 64 KB method limit once a stage holds a few of
    them (cosine = 3 dots), silently dropping the stage to interpreted
    mode; the fold form compiles in milliseconds.
    """
    if sql:
        terms = [
            f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
            for i in range(dim)
        ]
        return "(" + " + ".join(terms) + ")"
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def dot_literal_expr(a: str, plane: list[float], dim: int = EMB_DIM, sql: bool = False) -> str:
    if sql:
        terms = [
            f"CAST({a}[{i + 1}] AS DOUBLE) * ({plane[i]!r})" for i in range(dim)
        ]
        return "(" + " + ".join(terms) + ")"
    lits = "array(" + ", ".join(repr(float(x)) for x in plane) + ")"
    return (
        f"aggregate(zip_with({a}, {lits}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )


def norm_expr(a: str, dim: int = EMB_DIM, sql: bool = False) -> str:
    return f"sqrt({dot_expr(a, a, dim, sql)})"


def cosine_expr(a: str, b: str, dim: int = EMB_DIM, sql: bool = False) -> str:
    return f"({dot_expr(a, b, dim, sql)} / ({norm_expr(a, dim, sql)} * {norm_expr(b, dim, sql)}))"


def bucket_expr(
    a: str, dim: int = EMB_DIM, sql: bool = False,
    planes: list[list[float]] | None = None,
) -> str:
    """LSH bucket id: bit i set iff dot(v, plane_i) > 0."""
    bits = [
        f"(CASE WHEN {dot_literal_expr(a, p, dim, sql)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(HYPERPLANES if planes is None else planes)
    ]
    return "(" + " + ".join(bits) + ")"


#: OR-amplified multi-table LSH: each table draws an independent plane set.
#: P(candidate found) = 1 - (1 - p^planes)^tables — tables buy recall at
#: linear signature cost, the standard production knob random-hyperplane
#: LSH needs at scale (a single table's miss rate is data-independent and
#: irreducible).
#:
#: 24 tables x 6 planes is the r7 frontier pick on the gate corpus
#: (scripts/bench_ann_recall.py sweep, since deleted: ``git log
#: --diff-filter=D -- scripts/bench_ann_recall.py``; table in BASELINE.md): recall@5
#: 0.767 at 32.5% of corpus scored per query — the SAME candidate volume
#: as the old 6x4 default (0.533 at 32.2%) with +0.23 recall, and it
#: dominates every swept config under 40% candidates (16x5: 0.753 at
#: 40.3%; 12x5: 0.627 at 32.6%). Finer buckets (6 planes = 64 buckets)
#: plus more tables shift cost from SCORING (the per-candidate axis that
#: dominates at corpus scale) to SIGNATURES (one linear scan, 144 plane
#: dots/row, still cheap in codegen). VERDICT r6 ask #4: >=0.7 recall
#: under 60% candidate volume.
N_TABLES = 24
N_TABLE_PLANES = 6
TABLE_PLANES = [
    _hyperplanes(n=N_TABLE_PLANES, seed=7 + 13 * t) for t in range(N_TABLES)
]



def _sorted_display(df: DataFrame, *cols) -> DataFrame:
    """Total order for a k-per-query display-sized result WITHOUT a
    range exchange: a final ``orderBy`` plans a range-partitioning sort
    whose sampling pass re-executes the (window-topped) child subtree —
    the whole candidate/rescore pipeline would run twice. One merged
    partition + in-partition sort gives the same order; outputs here
    are ≤ k·|queries| rows, so the merge is free."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def ann_topk_bruteforce(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is a handful of rows → broadcast; the corpus is scanned
    once; ranking is a per-query-partition window (small: N rows per
    query). Ties broken by neighbor id.
    """
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    ).repartition(par)
    cos = F.expr(cosine_expr("qvec", "cvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rnk")
        .transform(_sorted_display, "query_id", "rnk")
    )


def ann_topk_bruteforce_sql(
    table: str, query_ids: list[int], k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    cos = cosine_expr("q.qvec", "c.cvec", sql=True)
    return f"""
    WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
               WHERE {id_col} IN ({ids})),
    c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec FROM {table}),
    scored AS (
      SELECT query_id, neighbor_id, {cos} AS cosine
      FROM q JOIN c ON query_id <> neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def _int8_scale_expr(vec: str, sql: bool = False) -> str:
    """Per-vector quantization scale: max |component| (order-free exact
    max — no fold-order concern), floored at 1e-30 against zero vectors."""
    if sql:
        return (
            f"greatest(list_reduce(list_transform({vec}, "
            f"x -> abs(CAST(x AS DOUBLE))), (a, b) -> greatest(a, b)), 1e-30)"
        )
    return (
        f"greatest(aggregate({vec}, CAST(0.0 AS DOUBLE), "
        f"(a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))), 1e-30)"
    )


def _int8_quant_expr(vec: str, scale: str, sql: bool = False) -> str:
    """int8 quantization q_i = floor(v_i * 127 / s + 0.5) — pure IEEE ops
    (multiply, divide, add, floor), so the quantized codes are identical
    on any engine; a round()/decimal cast here would hit engine-specific
    tie policies."""
    if sql:
        return (
            f"list_transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0"
            f" / {scale} + 0.5) AS INT))"
        )
    return (
        f"transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0"
        f" / {scale} + 0.5D) AS INT))"
    )


def _int8_dot_expr(a: str, b: str, sql: bool = False) -> str:
    """Exact BIGINT dot of two int8 code arrays (order-independent)."""
    if sql:
        return (
            f"list_reduce(list_transform(range(1, len({a}) + 1), "
            f"i -> CAST({a}[i] AS BIGINT) * {b}[i]), (x, y) -> x + y)"
        )
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * y), "
        f"CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    )


def ann_topk_int8(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized top-k: the corpus is int8-quantized once (4x the
    float32 memory footprint — the standard first compression step for a
    100 TB embedding store), candidates are ranked by the EXACT integer
    dot of the codes (BIGINT sums — order-free, engine-exact), the top
    ``rerank``*k candidates re-rank by exact float cosine on the original
    vectors, and the emitted cosine comes from the shared left-fold
    expression — so the result hashes identically cross-engine while the
    heavy scan runs on the compressed codes.
    """
    par = emb.sparkSession.sparkContext.defaultParallelism
    # scale staged in its own projection: the quantize expression
    # references it 64 times, and CollapseProject keeps the stages
    # separate, so the max-abs fold runs once per row
    coded = (
        emb.select(
            F.col(id_col), F.col(vec_col), F.expr(_int8_scale_expr(vec_col)).alias("s")
        )
        .select(
            id_col,
            vec_col,
            F.expr(_int8_quant_expr(vec_col, "s")).alias("q"),
        )
        .select(
            id_col,
            vec_col,
            "q",
            F.sqrt(F.expr(_int8_dot_expr("q", "q")).cast("double")).alias("qn"),
        )
    )
    q = coded.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("q").alias("qq"),
        F.col("qn").alias("qqn"),
    )
    c = coded.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col("q").alias("cq"),
        F.col("qn").alias("cqn"),
    ).repartition(par)
    qcos = (
        F.expr(_int8_dot_expr("qq", "cq")).cast("double") / (F.col("qqn") * F.col("cqn"))
    ).alias("qcos")
    from pyspark.sql import Window

    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), "neighbor_id")
    cand = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qvec", "cvec", qcos)
        .withColumn("qrnk", F.row_number().over(wq))
        .where(F.col("qrnk") <= rerank * k)
    )
    cos = F.expr(cosine_expr("qvec", "cvec"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rnk")
        .transform(_sorted_display, "query_id", "rnk")
    )


def ann_topk_int8_sql(
    table: str, query_ids: list[int], k: int = 5, rerank: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    scale = _int8_scale_expr(vec_col, sql=True)
    quant = _int8_quant_expr(vec_col, "s", sql=True)
    qdot = _int8_dot_expr("q.qq", "c.cq", sql=True)
    qself = _int8_dot_expr("q", "q", sql=True)
    cos = cosine_expr("qvec", "cvec", sql=True)
    return f"""
    WITH scaled AS MATERIALIZED (
      SELECT {id_col}, {vec_col}, {scale} AS s FROM {table}
    ),
    coded AS MATERIALIZED (
      SELECT {id_col}, {vec_col}, q,
             sqrt(CAST({qself} AS DOUBLE)) AS qn
      FROM (SELECT {id_col}, {vec_col}, {quant} AS q FROM scaled)
    ),
    q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec, q AS qq, qn AS qqn
          FROM coded WHERE {id_col} IN ({ids})),
    c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec, q AS cq, qn AS cqn
          FROM coded),
    cand AS (
      SELECT query_id, neighbor_id, qvec, cvec,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
               CAST({qdot} AS DOUBLE) / (q.qqn * c.cqn) DESC, neighbor_id)
               AS qrnk
      FROM q JOIN c ON query_id <> neighbor_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, {cos} AS cosine
      FROM cand WHERE qrnk <= {rerank * k}
    ), ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def ann_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    (same sign pattern against N_PLANES hyperplanes). Deterministic given
    the fixed planes; recall < 1 by design — the scale path."""
    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), F.expr(bucket_expr(vec_col)).alias("bucket")
    )
    q = bucketed.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), "bucket"
    )
    c = bucketed.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "bucket"
    )
    cos = F.expr(cosine_expr("qvec", "cvec"))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rnk")
        .transform(_sorted_display, "query_id", "rnk")
    )


def ann_topk_lsh_sql(
    table: str, query_ids: list[int], k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    bucket = bucket_expr(vec_col, sql=True)
    cos = cosine_expr("q.qvec", "c.cvec", sql=True)
    return f"""
    WITH bucketed AS (
      SELECT {id_col}, {vec_col}, {bucket} AS bucket FROM {table}
    ),
    q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec, bucket FROM bucketed
          WHERE {id_col} IN ({ids})),
    c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec, bucket FROM bucketed),
    scored AS (
      SELECT query_id, neighbor_id, {cos} AS cosine
      FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def lsh_signature_table(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_planes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The ingest-time stored-column shape of multi-table LSH: one row
    per (vector, table) with its bucket — ``(id_col, table_id, bucket)``.
    At 100 TB this is a column you write ONCE when the corpus lands
    (corpus × n_tables small ints, zero vectors duplicated) and every
    probe reads; re-hashing the corpus per query would rescan raw
    vectors for work that never changes.

    All ``n_tables`` signatures come from ONE corpus scan — a single
    posexploded array projection (the fold-based dot expressions keep it
    far under janino's 64 KB method limit; the literal expansion of the
    same array did not and fell to interpreted mode). The per-plane fold
    order is identical to ``dot_literal_expr`` (zip_with + aggregate
    foldLeft), so the signs — hence buckets — match the oracle's literal
    expansions bitwise.
    """
    tp = TABLE_PLANES if table_planes is None else table_planes
    np_ = len(tp[0])
    flat = [p for table in tp for p in table]
    planes_lit = "array(" + ", ".join(
        "array(" + ", ".join(repr(float(x)) for x in p) + ")" for p in flat
    ) + ")"
    dots = (
        f"transform({planes_lit}, p -> aggregate(zip_with({vec_col}, p, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
        f"(acc, t) -> acc + t))"
    )
    sigs = "array(" + ", ".join(
        "(" + " + ".join(
            f"(CASE WHEN _dots[{t * np_ + i}] > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(np_)
        ) + ")"
        for t in range(len(tp))
    ) + ")"
    return emb.select(
        F.col(id_col), F.expr(dots).alias("_dots")
    ).select(
        F.col(id_col),
        F.posexplode(F.expr(sigs)).alias("table_id", "bucket"),
    )


def lsh_signature_encode(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_planes: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Per-batch signature encoder for INCREMENTAL index maintenance:
    same output as :func:`lsh_signature_table`, but the planes arrive as
    a broadcast 144-row COLUMN instead of a ~170 KB literal expression —
    a foreachBatch sink re-analyzes its plan every micro-batch, and the
    literal kernel charged ~4.5 s of parse/compile per batch vs ~0.65 s
    for this shape (measured, 125-row batch). Buckets are bit-identical:
    the per-plane fold is the same ``zip_with`` + ``aggregate`` left
    fold, just over a column-sourced plane (verified equal on the gate
    corpus).

    Scale: new-vectors × 144 exploded rows per batch, broadcast plane
    side fixed-size — the right ingest-path shape at any corpus size.
    """
    spark = emb.sparkSession
    tp = TABLE_PLANES if table_planes is None else table_planes
    rows = [
        (t, i, [float(x) for x in p])
        for t, planes in enumerate(tp)
        for i, p in enumerate(planes)
    ]
    pl = spark.createDataFrame(rows, "table_id int, plane_idx int, plane array<double>")
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col("plane"), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return (
        emb.crossJoin(F.broadcast(pl))
        .select(F.col(id_col), "table_id", "plane_idx", dot.alias("_dot"))
        .groupBy(id_col, "table_id")
        .agg(
            F.sum(
                F.when(F.col("_dot") > 0, F.expr("shiftleft(1, plane_idx)")).otherwise(0)
            )
            .cast("int")
            .alias("bucket")
        )
    )


def lsh_signature_table_sql(
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_planes: list[list[list[float]]] | None = None,
) -> str:
    """DuckDB twin of :func:`lsh_signature_table`: the batch-built
    ``(id, table_id, bucket)`` index over the same rows — one literal
    bucket expansion per table (the per-plane fold order matches the
    Spark side bitwise, see ``dot_literal_expr``)."""
    tp = TABLE_PLANES if table_planes is None else table_planes
    per_table = " UNION ALL ".join(
        f"SELECT {id_col}, CAST({t} AS INT) AS table_id, "
        f"CAST({bucket_expr(vec_col, sql=True, planes=p)} AS INT) AS bucket "
        f"FROM {table}"
        for t, p in enumerate(tp)
    )
    return f"SELECT * FROM ({per_table})"


def ann_topk_lsh_multitable(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table_planes: list[list[list[float]]] | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k with OR-amplified multi-table LSH: ``N_TABLES``
    independent plane sets; a corpus vector is a candidate if it shares a
    bucket with the query in ANY table. Candidates are distinct-ed on
    (query, neighbor) before scoring, so a pair colliding in several
    tables is scored once and ranking matches the single-table shape.

    ``signatures`` takes the stored ``(id_col, table_id, bucket)`` table
    from :func:`lsh_signature_table` (the production shape: signatures
    are an ingest-time column, not per-query work); omitted, it is
    derived inline from ``emb``. Either way the probe joins on
    (table_id, bucket) — each query confined to one bucket per table,
    never all-pairs. Recall floor vs brute force is pinned by
    tests/test_pipeline_ops.py on the same corpus the gate uses.
    """
    sig = (
        signatures
        if signatures is not None
        else lsh_signature_table(emb, id_col, vec_col, table_planes)
    )
    q_sig = sig.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "table_id", "bucket"
    )
    cand = (
        sig.select(F.col(id_col).alias("neighbor_id"), "table_id", "bucket")
        .join(F.broadcast(q_sig), ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    qvecs = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cvecs = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    cos = F.expr(cosine_expr("qvec", "cvec"))
    scored = (
        cand.repartition(par)
        .join(cvecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn("cosine", cos)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rnk")
        .transform(_sorted_display, "query_id", "rnk")
    )


def ann_topk_lsh_multitable_sql(
    table: str, query_ids: list[int], k: int = 5,
    id_col: str = "vec_id", vec_col: str = "embedding",
    table_planes: list[list[list[float]]] | None = None,
) -> str:
    tp = TABLE_PLANES if table_planes is None else table_planes
    ids = ", ".join(str(i) for i in query_ids)
    per_table = " UNION ALL ".join(
        f"SELECT {id_col}, {t} AS table_id, "
        f"{bucket_expr(vec_col, sql=True, planes=p)} AS bucket FROM {table}"
        for t, p in enumerate(tp)
    )
    cos = cosine_expr("q.qvec", "c.cvec", sql=True)
    return f"""
    WITH bucketed AS ({per_table}),
    qb AS (SELECT {id_col} AS query_id, table_id, bucket FROM bucketed
           WHERE {id_col} IN ({ids})),
    cand AS (
      SELECT DISTINCT qb.query_id, b.{id_col} AS neighbor_id
      FROM bucketed b JOIN qb USING (table_id, bucket)
      WHERE qb.query_id <> b.{id_col}
    ),
    q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
          WHERE {id_col} IN ({ids})),
    c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec FROM {table}),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS cosine
      FROM cand JOIN q ON cand.query_id = q.query_id
                JOIN c ON cand.neighbor_id = c.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    gemm_candidates: bool = True,
    n_blocks: int = 8,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact.

    ``gemm_candidates=False``: pure nested-loop pair join with the dot
    product evaluated JVM-side. O(n²·d) through codegen — the reference
    shape, and the fallback when Arrow/numpy is unavailable.

    ``gemm_candidates=True`` (default): two-phase, fully distributed.
    Candidates come from a **tiled** matrix multiply: each vector is
    hashed into one of ``n_blocks`` blocks, replicated once per block it
    must meet, and every block *pair* (i ≤ j) becomes one
    ``applyInPandas`` group that runs a single BLAS GEMM between the two
    L2-normalized tiles, keeping pairs with sim ≥ τ−1e-4. The slack
    absorbs FP-order differences between BLAS and sequential summation.
    Survivors are re-scored IN THE TILE with a vectorized left-
    associative dimension fold — the exact summation order of the shared
    dot/norm expressions — and the threshold + rounding applied to THAT
    value, so the emitted pairs and cosines are bit-identical to the
    naive path with no join-back stage (the former expression-based
    re-score join breached janino's 64 KB limit and ran interpreted).
    Same O(n²·d) flops as naive, but dense GEMM instead of per-row
    codegen: ~10× at sf0.1.

    Scale: nothing touches the driver — shuffle volume is
    ``n_blocks·n·d`` floats and peak executor memory is two tiles
    (2·(n/n_blocks)·d·8 bytes). Size ``n_blocks ≈ n·d·8 / 256 MB`` so a
    tile pair fits comfortably; the flop count is unchanged by B, so at
    true 100-TB corpus sizes prefer the LSH/IVF candidate paths and keep
    this exact path for per-bucket refinement.

    Perf note (measured at sf0.1): the naive form must stay a raw-float-
    array expression — a "pre-normalize then single dot" rewrite fell off
    codegen and ran 4× slower.
    """
    par = emb.sparkSession.sparkContext.defaultParallelism
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")).repartition(par)
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    cos = F.expr(cosine_expr("va", "vb"))

    if not gemm_candidates:
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cos)
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        )

    import numpy as np
    import pandas as pd

    cut = threshold - 1e-4
    B = n_blocks

    def _exact_cos(A: "np.ndarray", Bm: "np.ndarray") -> "np.ndarray":
        """Exact cosine for row-aligned pairs, folding dimensions LEFT-
        ASSOCIATIVELY per element — the same 0.0-seeded order as the
        shared dot/norm expressions, so the emitted doubles are
        bit-identical to the JVM/DuckDB evaluation (vectorized across
        pairs, looped over the 64 dims)."""
        m = A.shape[0]
        dot = np.zeros(m)
        na = np.zeros(m)
        nb = np.zeros(m)
        for i in range(A.shape[1]):
            dot += A[:, i] * Bm[:, i]
            na += A[:, i] * A[:, i]
            nb += Bm[:, i] * Bm[:, i]
        return dot / (np.sqrt(na) * np.sqrt(nb))

    # Replicate each vector to every block pair it participates in: a row
    # in block k lands in groups (min(k,j), max(k,j)) for all j — B copies
    # per row, B(B+1)/2 GEMM tasks, no driver materialization.
    rep = (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.pmod(F.hash(F.col(id_col)), F.lit(B)).alias("blk"),
        )
        .select(
            "id",
            "v",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("other"),
        )
        .select(
            "id",
            "v",
            "blk",
            F.least("blk", "other").alias("pa"),
            F.greatest("blk", "other").alias("pb"),
        )
    )

    def _mats(pdf: pd.DataFrame):
        ids = pdf["id"].to_numpy()
        raw = np.vstack(pdf["v"].to_numpy()).astype("float64")
        norms = np.linalg.norm(raw, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors match nothing
        return ids, raw, raw / norms[:, None]

    def gemm_tile(key, pdf):
        pa, pb = key
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        if pa == pb:
            # full square; each unordered pair shows up twice — keep one
            if len(pdf) == 0:
                return empty
            ids, raw, mat = _mats(pdf)
            sims = mat @ mat.T
            ii, jj = np.where(sims >= cut)
            keep = ids[ii] < ids[jj]
            ii, jj = ii[keep], jj[keep]
            ida, idb = ids[ii], ids[jj]
            cos_exact = _exact_cos(raw[ii], raw[jj])
        else:
            # each unordered pair shows up once; block order is hash order,
            # not id order — normalize to (lo, hi)
            left = pdf[pdf["blk"] == pa]
            right = pdf[pdf["blk"] == pb]
            if len(left) == 0 or len(right) == 0:
                return empty
            l_ids, l_raw, l_mat = _mats(left)
            r_ids, r_raw, r_mat = _mats(right)
            sims = l_mat @ r_mat.T
            ii, jj = np.where(sims >= cut)
            la, rb = l_ids[ii], r_ids[jj]
            ida, idb = np.minimum(la, rb), np.maximum(la, rb)
            cos_exact = _exact_cos(l_raw[ii], r_raw[jj])
        # the GEMM only SELECTED candidates (τ−ε); the EMITTED value and
        # the final threshold both come from the exact left-assoc fold,
        # so pairs and cosines are bit-identical to the expression path
        keep = cos_exact >= threshold
        return pd.DataFrame(
            {"id_a": ida[keep], "id_b": idb[keep], "cosine": cos_exact[keep]}
        )

    cand = rep.groupBy("pa", "pb").applyInPandas(
        gemm_tile, "id_a long, id_b long, cosine double"
    )
    return cand.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def cosine_neardup_pairs_sql(
    table: str, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    cos = cosine_expr("a.va", "b.vb", sql=True)
    return f"""
    WITH a AS (SELECT {id_col} AS id_a, {vec_col} AS va FROM {table}),
    b AS (SELECT {id_col} AS id_b, {vec_col} AS vb FROM {table})
    SELECT id_a, id_b, round({cos}, 6) AS cosine
    FROM a JOIN b ON id_a < id_b
    WHERE {cos} >= {threshold}
    """


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantization into centroid cells
# ---------------------------------------------------------------------------

N_CENTROIDS = 8
IVF_MARGIN = 0.5  # additive probe margin on the cell-distance score


def _centroids(n: int = N_CENTROIDS, dim: int = EMB_DIM, seed: int = 11) -> list[list[float]]:
    """Deterministic pseudo-centroids, shared by engine and oracle. A
    production build would k-means these from a sample; fixed literals
    keep the operator oracle-checkable."""
    rng = random.Random(seed)
    return [[round(rng.uniform(-0.5, 0.5), 4) for _ in range(dim)] for _ in range(n)]


CENTROIDS = _centroids()
#: per-centroid constant |c|^2, folded into the distance score
_C_NORM2 = [round(sum(x * x for x in c), 8) for c in CENTROIDS]


def _cell_scores(
    vec: str,
    dim: int = EMB_DIM,
    sql: bool = False,
    centroids: list[list[float]] | None = None,
) -> list[str]:
    """Distance score per centroid: |v-c|^2 - |v|^2 = -2<v,c> + |c|^2
    (the |v|^2 term is constant per vector, so argmin is unchanged)."""
    cents = CENTROIDS if centroids is None else centroids
    if centroids is None:
        # fixed pseudo-centroids: short rounded literals (shared with the
        # static SQL oracle, which embeds the same rounded constants)
        norm2 = _C_NORM2
        neg2 = [[round(-2.0 * x, 6) for x in c] for c in cents]
    else:
        # caller-supplied (trained) centroids: EXACT literals. The trained
        # oracle re-derives centroids in SQL and scores with
        # (-2 * dot(v,c)) + dot(c,c); scaling by -2 (a power of two)
        # commutes with FP rounding and the Python sum here is the same
        # 0-seeded left fold as the SQL chain, so these literal scores are
        # bit-identical to the oracle's column-derived ones.
        norm2 = [sum(x * x for x in c) for c in cents]
        neg2 = [[-2.0 * x for x in c] for c in cents]
    out = []
    for neg2c, n2 in zip(neg2, norm2):
        out.append(f"({dot_literal_expr(vec, neg2c, dim, sql)} + ({n2!r}))")
    return out


def ivf_scores_expr(
    vec: str,
    dim: int = EMB_DIM,
    sql: bool = False,
    centroids: list[list[float]] | None = None,
) -> str:
    """Array of per-centroid distance scores, computed ONCE per row.

    Deriving cell / probe set from this array (instead of inlining every
    score into nested CASEs) keeps the expression under codegen's method
    limit: the inlined form re-embedded all 8 scores (64-term dots each)
    per CASE level — ~4.6k multiply-adds/row, interpreted — and ran 40×
    slower (measured: 38.7 s → this form, sub-second-per-stage)."""
    scores = _cell_scores(vec, dim, sql, centroids)
    body = ", ".join(scores)
    return f"[{body}]" if sql else f"array({body})"


def ivf_cell_from_scores(sql: bool = False) -> str:
    """Nearest-centroid cell id from a ``scores`` column (argmin; the
    first/lowest index wins ties — array_position/list_indexof return the
    first occurrence in both engines).

    COALESCE makes the column non-nullable: otherwise the join on cell
    infers an ``isnotnull(cell)`` constraint that predicate-pushdown
    substitutes through the projection, re-materializing the whole scores
    expression in the scan filter (measured: 10.5 s → 2.9 s at sf0.1)."""
    if sql:
        return "COALESCE(CAST(list_indexof(scores, list_aggregate(scores, 'min')) - 1 AS INT), -1)"
    return "COALESCE(CAST(array_position(scores, array_min(scores)) - 1 AS INT), -1)"


def ivf_probes_from_scores(margin: float, n: int = N_CENTROIDS, sql: bool = False) -> str:
    """List of cell ids whose score is within ``margin`` of the best —
    the query-side probe set (≥1 cell always; lists are 1-based in DuckDB)."""
    if sql:
        return (
            f"list_filter(range(0, {n}), "
            f"i -> scores[i + 1] <= list_aggregate(scores, 'min') + {margin!r})"
        )
    return (
        f"filter(sequence(0, {n - 1}), "
        f"i -> scores[i] <= array_min(scores) + {margin!r})"
    )


def ann_topk_ivf(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    margin: float = IVF_MARGIN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF coarse quantization: the corpus is
    assigned to its nearest centroid cell once (linear scan); each query
    probes every cell within ``margin`` of its best cell and ranks only
    those cells' vectors. Equi-join on cell id — the classic
    IVF-flat search shape, deterministic given the fixed centroids.

    ``centroids`` routes through caller-supplied cells (the production
    shape: ``kmeans.kmeans_fit`` → here); default is the fixed
    pseudo-centroid set shared with the SQL oracle."""
    par = emb.sparkSession.sparkContext.defaultParallelism
    n_cells = N_CENTROIDS if centroids is None else len(centroids)
    # Two-step: materialize the scores array in its own projection, then
    # reference it — Catalyst keeps the projections separate (collapsing
    # would duplicate a non-cheap expression used twice), so the 8 dot
    # products run once per row and the whole stage codegens.
    corpus = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cvec"),
            F.expr(ivf_scores_expr(vec_col, centroids=centroids)).alias("scores"),
        )
        .select(
            "neighbor_id", "cvec", F.expr(ivf_cell_from_scores()).alias("cell")
        )
        .repartition(par)
    )
    q = (
        emb.where(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.expr(ivf_scores_expr(vec_col, centroids=centroids)).alias("scores"),
        )
        .select(
            "query_id",
            "qvec",
            F.explode(
                F.expr(ivf_probes_from_scores(margin, n=n_cells))
            ).alias("cell"),
        )
    )
    cos = F.expr(cosine_expr("qvec", "cvec"))
    scored = (
        corpus.join(F.broadcast(q), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cos)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rnk")
        .transform(_sorted_display, "query_id", "rnk")
    )


def ann_topk_ivf_sql(
    table: str, query_ids: list[int], k: int = 5, margin: float = IVF_MARGIN,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    scores = ivf_scores_expr(vec_col, sql=True)
    cell = ivf_cell_from_scores(sql=True)
    probes = ivf_probes_from_scores(margin, sql=True)
    cos = cosine_expr("q.qvec", "c.cvec", sql=True)
    return f"""
    WITH s AS (
      SELECT {id_col}, {vec_col}, {scores} AS scores FROM {table}
    ),
    c AS (
      SELECT {id_col} AS neighbor_id, {vec_col} AS cvec, {cell} AS cell FROM s
    ),
    q AS (
      SELECT {id_col} AS query_id, {vec_col} AS qvec, unnest({probes}) AS cell
      FROM s WHERE {id_col} IN ({ids})
    ),
    scored AS (
      SELECT query_id, neighbor_id, {cos} AS cosine
      FROM c JOIN q USING (cell) WHERE query_id <> neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rnk FROM ranked
    WHERE rnk <= {k} ORDER BY query_id, rnk
    """


# Routing cutoff for predicate-filtered ANN: at or below this selectivity
# the filtered corpus is small enough that an exact scan of JUST the
# matching rows beats probing the IVF index (which still scores every
# candidate in the probed cells, match or not, before the post-filter).
ANN_FILTER_CUTOFF = 0.10


def ann_topk_filtered(
    emb: DataFrame,
    query_ids: list[int],
    pred,
    k: int = 5,
    selectivity: float | None = None,
    cutoff: float = ANN_FILTER_CUTOFF,
    margin: float = IVF_MARGIN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Predicate-filtered top-k cosine search, selectivity-routed — the
    "find neighbors WHERE lang='en'" shape every retrieval stack needs.

    Two physical routes, chosen by the predicate's measured (or
    caller-supplied) selectivity:

    * ``prefilter`` (selectivity ≤ ``cutoff``): the predicate is pushed
      into the corpus scan (Parquet ``PushedFilters``) and the surviving
      rows are scored EXACTLY — for a rare predicate the filtered set is
      tiny, so brute force over it is both exact and the cheapest plan.
      Post-filtering an ANN index here would be strictly worse: the index
      probe scores non-matching vectors only to throw them away, and a
      rare predicate can leave < k matches inside the probed cells.
    * ``ivf`` (selectivity > ``cutoff``): the broad predicate keeps most
      of the corpus, so an exact scan pays full price — instead the
      corpus is IVF cell-assigned with the predicate applied IN THE SAME
      SCAN (non-matching rows are never cell-scored), each query probes
      its margin cells, and candidates rank within the probed cells.
      Deterministic given the fixed centroids, same contract as
      :func:`ann_topk_ivf`. At 100 TB the cell column is the stored
      IVF face (`streaming/index.py`), so this route reads the index
      and scores only matching vectors in probed cells: cost tracks
      selectivity × probed fraction, never the corpus.

    ``selectivity`` skips the stats pass when the caller already knows it
    (catalog stats, the CMS sketch, or a prior run); otherwise ONE
    column-pruned aggregate measures it (count + conditional count in a
    single job — counts are plans, never two separate actions).

    The routing decision is emitted as a ``route`` column so the gate
    oracle (which replays the chosen route's exact logic in SQL) pins
    the router itself: if the router flips, the hash flips.
    """
    if selectivity is None:
        row = emb.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(pred, 1)).alias("m"),
        ).collect()[0]
        selectivity = (row["m"] / row["n"]) if row["n"] else 0.0
    route = "prefilter" if selectivity <= cutoff else "ivf"

    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    if route == "prefilter":
        c = emb.where(pred).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ).repartition(par)
        scored = c.join(
            F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
        )
    else:
        # predicate + cell assignment in ONE scan: filtered-out rows are
        # never centroid-scored (filter sits below the projection)
        c = (
            emb.where(pred)
            .select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cvec"),
                F.expr(ivf_scores_expr(vec_col)).alias("scores"),
            )
            .select(
                "neighbor_id", "cvec", F.expr(ivf_cell_from_scores()).alias("cell")
            )
            .repartition(par)
        )
        qp = (
            emb.where(F.col(id_col).isin(query_ids))
            .select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("qvec"),
                F.expr(ivf_scores_expr(vec_col)).alias("scores"),
            )
            .select(
                "query_id",
                "qvec",
                F.explode(F.expr(ivf_probes_from_scores(margin))).alias("cell"),
            )
        )
        scored = c.join(F.broadcast(qp), "cell").where(
            F.col("query_id") != F.col("neighbor_id")
        )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("cosine", F.expr(cosine_expr("qvec", "cvec")))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            "rnk",
            F.lit(route).alias("route"),
        )
        .transform(_sorted_display, "query_id", "rnk")
    )


def ann_topk_filtered_sql(
    table: str,
    query_ids: list[int],
    pred_sql: str,
    k: int = 5,
    route: str = "prefilter",
    margin: float = IVF_MARGIN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`ann_topk_filtered`. ``route`` is the
    decision the fixture's selectivity produces; the Spark side emits its
    measured decision as a column, so a router flip hash-mismatches."""
    ids = ", ".join(str(i) for i in query_ids)
    cos = cosine_expr("q.qvec", "c.cvec", sql=True)
    if route == "prefilter":
        corpus = (
            f"SELECT {id_col} AS neighbor_id, {vec_col} AS cvec "
            f"FROM {table} WHERE {pred_sql}"
        )
        joined = f"""
        SELECT query_id, neighbor_id, {cos} AS cosine
        FROM ({corpus}) c
        JOIN (SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
              WHERE {id_col} IN ({ids})) q
          ON query_id <> neighbor_id"""
    else:
        scores = ivf_scores_expr(vec_col, sql=True)
        cell = ivf_cell_from_scores(sql=True)
        probes = ivf_probes_from_scores(margin, sql=True)
        joined = f"""
        SELECT query_id, neighbor_id, {cos} AS cosine
        FROM (
          SELECT {id_col} AS neighbor_id, {vec_col} AS cvec, {cell} AS cell
          FROM (SELECT {id_col}, {vec_col}, {scores} AS scores
                FROM {table} WHERE {pred_sql}) s
        ) c
        JOIN (
          SELECT {id_col} AS query_id, {vec_col} AS qvec, unnest({probes}) AS cell
          FROM (SELECT {id_col}, {vec_col}, {scores} AS scores FROM {table}
                WHERE {id_col} IN ({ids})) s
        ) q USING (cell)
        WHERE query_id <> neighbor_id"""
    return f"""
    WITH ranked AS (
      SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM ({joined}) scored)
    SELECT query_id, neighbor_id, cosine, rnk, '{route}' AS route
    FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk
    """


def ivf_probe_assign(
    emb: DataFrame,
    margin: float = IVF_MARGIN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Cell-assignment phase of IVF pair mining: one corpus scan scoring
    every vector against the centroid set, exploded to its probed cells —
    ``(id, v, _probes, cell)``, one row per (vector, probed cell).

    This is the O(n·k·d) pass. At 100 TB it is an INGEST-TIME precompute
    (store ``cell``/``_probes`` as columns next to the embedding, exactly
    like the LSH signature note above): the mining phase then reads the
    assignment for free, and re-clustering is the only event that forces
    a re-scan. Kept separate so the scaling harness can measure
    assignment (one scan, amortized) and mining (the recurring cost)
    independently."""
    n_cells = N_CENTROIDS if centroids is None else len(centroids)
    # staged projections: scores array once per row, then probes once per
    # row (Catalyst keeps non-cheap reused expressions in their own
    # projection — the inlined form re-evaluates every centroid dot)
    p = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(ivf_scores_expr(vec_col, centroids=centroids)).alias("scores"),
    ).select(
        "id",
        "v",
        F.expr(ivf_probes_from_scores(margin, n=n_cells)).alias("_probes"),
    )
    return p.select("id", "v", "_probes", F.explode("_probes").alias("cell"))


def cosine_neardup_pairs_ivf(
    emb: DataFrame,
    threshold: float,
    margin: float = IVF_MARGIN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """Cell-confined cosine pair mining — the SemDeDup (Abbas et al.
    2023) corpus-scale shape: coarse-quantize every vector into IVF
    centroid cells, generate candidate pairs only WITHIN a shared cell,
    exact-score survivors. The exact GEMM detector
    (``cosine_neardup_pairs``) is O(n²·d) flops by construction; this
    path's flop count is Σ_cells |cell|²·d — with cells sized to the
    corpus (k ∝ n, bounded cell occupancy) candidate volume stays
    ~linear in n. Recall < 1 by design: cross-cell pairs are missed
    unless the ``margin`` multi-probe covers them (recall vs the exact
    detector is pinned in tests on the gate corpus; SemDeDup itself
    accepts exactly this approximation).

    Deterministic and oracle-checkable: cell scores, probe sets, and the
    final cosine all use the shared left-associative fold expressions,
    so both engines derive identical candidates and bit-identical
    emitted values.

    Multi-probe duplicates are collapsed WITHOUT a distinct (ADVICE-r6
    precedent): a pair is kept only in the MINIMUM shared probed cell —
    exactly one surviving copy per candidate pair.

    Scoring runs as ONE ``applyInPandas`` GEMM per cell (the same
    select-at-τ−ε / exact-left-assoc-rescore construction as the tiled
    block-pair detector above — emitted values bit-identical to the
    expression path): the per-pair higher-order-function cosine fell to
    interpreted lambda evaluation and ran minutes at 10⁶-pair candidate
    volumes, while the cell GEMM is BLAS.
    """
    import numpy as np
    import pandas as pd

    cut = threshold - 1e-4
    rep = (
        assignment
        if assignment is not None
        else ivf_probe_assign(
            emb, margin=margin, id_col=id_col, vec_col=vec_col, centroids=centroids
        )
    )

    def _exact_cos(A: "np.ndarray", Bm: "np.ndarray") -> "np.ndarray":
        # identical 0.0-seeded left fold as the shared dot/norm exprs
        m = A.shape[0]
        dot = np.zeros(m)
        na = np.zeros(m)
        nb = np.zeros(m)
        for i in range(A.shape[1]):
            dot += A[:, i] * Bm[:, i]
            na += A[:, i] * A[:, i]
            nb += Bm[:, i] * Bm[:, i]
        return dot / (np.sqrt(na) * np.sqrt(nb))

    def cell_tile(key, pdf):
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        cell = key[0]
        ids = pdf["id"].to_numpy()
        raw = np.vstack(pdf["v"].to_numpy()).astype("float64")
        norms = np.linalg.norm(raw, axis=1)
        norms[norms == 0.0] = np.inf  # zero vectors match nothing
        mat = raw / norms[:, None]
        sims = mat @ mat.T
        ii, jj = np.where(sims >= cut)
        keep = ids[ii] < ids[jj]
        ii, jj = ii[keep], jj[keep]
        if len(ii) == 0:
            return empty
        # min-common-probe anchor, applied inside the tile: this cell
        # must be the smallest cell probed by BOTH rows
        probes = [set(x) for x in pdf["_probes"]]
        anchor = np.fromiter(
            (min(probes[a] & probes[b]) == cell for a, b in zip(ii, jj)),
            dtype=bool,
            count=len(ii),
        )
        ii, jj = ii[anchor], jj[anchor]
        if len(ii) == 0:
            return empty
        cos_exact = _exact_cos(raw[ii], raw[jj])
        keep = cos_exact >= threshold
        return pd.DataFrame(
            {"id_a": ids[ii][keep], "id_b": ids[jj][keep], "cosine": cos_exact[keep]}
        )

    cand = rep.groupBy("cell").applyInPandas(
        cell_tile, "id_a long, id_b long, cosine double"
    )
    return cand.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def cosine_neardup_pairs_ivf_sql(
    table: str,
    threshold: float,
    margin: float = IVF_MARGIN,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    # Per-row norm precomputed ONCE (sqrt(selfdot) per vector), so each
    # candidate pair pays a single 64-term dot instead of three —
    # dot/(sqrt(A)*sqrt(B)) evaluates the identical FP ops in the
    # identical order as the inline cosine_expr, so emitted values stay
    # bit-identical to the engine. cand is MATERIALIZED: _cos is
    # referenced by both the outer filter and projection, and DuckDB
    # would otherwise inline (recompute) it per reference.
    scores = ivf_scores_expr(vec_col, sql=True)
    probes = ivf_probes_from_scores(margin, sql=True)
    dot = dot_expr("a.va", "b.vb", sql=True)
    selfdot = dot_expr("v", "v", sql=True)
    return f"""
    WITH s AS (
      SELECT {id_col} AS id, {vec_col} AS v, {scores} AS scores FROM {table}
    ),
    p AS MATERIALIZED (
      SELECT id, v, sqrt({selfdot}) AS nrm, {probes} AS pr FROM s
    ),
    a AS (SELECT id AS id_a, v AS va, nrm AS na, pr AS pa, unnest(pr) AS cell FROM p),
    b AS (SELECT id AS id_b, v AS vb, nrm AS nb, pr AS pb, unnest(pr) AS cell FROM p),
    cand AS MATERIALIZED (
      SELECT id_a, id_b, ({dot} / (a.na * b.nb)) AS _cos
      FROM a JOIN b USING (cell)
      WHERE id_a < id_b
        AND cell = list_aggregate(list_intersect(pa, pb), 'min')
    )
    SELECT id_a, id_b, round(_cos, 6) AS cosine
    FROM cand WHERE _cos >= {threshold}
    """


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (Achlioptas 2003: ±1 sign
# matrices preserve pairwise distances as well as Gaussian ones) —
# the dimensionality-REDUCTION member of the ANN family (LSH hashes,
# IVF partitions, PQ quantizes; JL shrinks the vectors themselves:
# 64 → 16 dims = 4× less memory/FLOPs for any downstream exact or
# approximate search, with distance distortion bounded by the JL lemma).
#
# Determinism: the sign matrix is generated DRIVER-SIDE from md5 parity
# (hashlib — no engine hashing involved) and embedded as literals in
# both engines' expressions; each projected coordinate is one
# left-assoc fold over the literal column (the dot_literal_expr order),
# so projected values — and every distance computed from them — are
# bit-identical cross-engine.
# ---------------------------------------------------------------------------


def jl_sign_matrix(dim: int = EMB_DIM, out_dim: int = 16) -> list[list[float]]:
    """Deterministic ±1 matrix [out_dim][dim] from md5 parity of the
    (j, i) coordinates — reproducible everywhere, no RNG state."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"jl-{j}-{i}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    emb: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    signs: list[list[float]] | None = None,
) -> DataFrame:
    """Project to ``out_dim`` dims: ``(id, jl: array<double>)`` with
    ``jl[j] = Σ_i v_i · s_{ji}`` (left-assoc fold per coordinate).
    At rest you'd store this next to (or instead of) the raw vectors —
    an ingest-time column like LSH signatures and PQ codes."""
    S = jl_sign_matrix(out_dim=out_dim) if signs is None else signs
    coords = ", ".join(dot_literal_expr(vec_col, row) for row in S)
    return emb.select(
        F.col(id_col), F.expr(f"array({coords})").alias("jl")
    )


def jl_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    projected: DataFrame | None = None,
) -> DataFrame:
    """Brute-force L2² top-k in the PROJECTED space (the reduced-memory
    search tier). Distances quantize to BIGINT (floor(x·1e10+0.5)) so
    ranking is integer-exact. ``projected`` takes a stored
    :func:`jl_project` table; omitted, it derives inline. Returns
    ``(q_id, rank, vec_id, jl_dist_q)``."""
    proj = (
        projected
        if projected is not None
        else jl_project(emb, out_dim, id_col, vec_col)
    )
    q = proj.where(F.col(id_col).isin([int(x) for x in query_ids])).select(
        F.col(id_col).alias("q_id"), F.col("jl").alias("qjl")
    )
    c = proj.select(F.col(id_col).alias("vec_id"), F.col("jl").alias("cjl"))
    # Σ (q_j - c_j)² as the same left fold both engines run
    d2 = (
        "aggregate(zip_with(qjl, cjl, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "jl_dist_q",
            F.expr(f"CAST(floor(({d2}) * 1e10 + 0.5) AS BIGINT)"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy("jl_dist_q", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "jl_dist_q")
    )


def jl_topk_sql(
    table: str,
    query_ids: list[int],
    k: int = 5,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: identical literal sign chains per coordinate,
    identical left-assoc distance fold, identical quantized ranking."""
    S = jl_sign_matrix(out_dim=out_dim)
    coords = ", ".join(
        dot_literal_expr(vec_col, row, sql=True) for row in S
    )
    ids = ", ".join(str(int(x)) for x in query_ids)
    d2_terms = " + ".join(
        f"(q.qjl[{j + 1}] - c.cjl[{j + 1}]) * (q.qjl[{j + 1}] - c.cjl[{j + 1}])"
        for j in range(out_dim)
    )
    return f"""
    WITH proj AS MATERIALIZED (
      SELECT {id_col}, [{coords}] AS jl FROM {table}
    ),
    q AS (SELECT {id_col} AS q_id, jl AS qjl FROM proj WHERE {id_col} IN ({ids})),
    c AS (SELECT {id_col} AS vec_id, jl AS cjl FROM proj),
    scored AS (
      SELECT q.q_id, c.vec_id,
             CAST(floor(({d2_terms}) * 1e10 + 0.5) AS BIGINT) AS jl_dist_q
      FROM c, q WHERE c.vec_id <> q.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, jl_dist_q,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY jl_dist_q, vec_id) AS rnk
      FROM scored
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rank, vec_id, jl_dist_q
    FROM ranked WHERE rnk <= {k}
    """


def jl_topk_rerank(
    emb: DataFrame,
    query_ids: list[int],
    shortlist: int = 100,
    k: int = 5,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    projected: DataFrame | None = None,
) -> DataFrame:
    """The JL production operating point (same shape as PQ's ADC+rerank):
    the 4×-compressed projected tier SHORTLISTS ``shortlist`` candidates
    per query, then only the shortlist's raw vectors are exactly
    re-scored (-2·q·v + |v|², left-assoc fold, BIGINT-quantized).
    Measured recall@5 vs exact 64-dim L2 on the gate corpus: 0.08
    projected-only → 0.72 with the 100-candidate shortlist (an
    ISOTROPIC synthetic corpus is JL's worst case — distances
    concentrate, so ranking needs the exact tier; distances themselves
    are preserved: distortion mean 0.998, p5–p95 [0.49, 1.64] at 16
    dims). Returns ``(q_id, rank, vec_id, exact_q)``."""
    short = jl_topk(
        emb, query_ids, k=shortlist, out_dim=out_dim,
        id_col=id_col, vec_col=vec_col, projected=projected,
    ).select("q_id", "vec_id")
    vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    qvecs = emb.where(F.col(id_col).isin([int(q) for q in query_ids])).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("qv")
    )
    exact = F.expr(
        f"CAST(floor(((-2.0 * {dot_expr('qv', 'v')}) + {dot_expr('v', 'v')})"
        " * 1e10 + 0.5) AS BIGINT)"
    )
    cand = (
        short.join(vecs, "vec_id")
        .join(F.broadcast(qvecs), "q_id")
        .withColumn("exact_q", exact)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy("exact_q", "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "exact_q")
    )


def jl_topk_rerank_sql(
    table: str,
    query_ids: list[int],
    shortlist: int = 100,
    k: int = 5,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin: the projected shortlist CTE composed with the exact
    rescore chain."""
    inner = jl_topk_sql(table, query_ids, k=shortlist, out_dim=out_dim,
                        id_col=id_col, vec_col=vec_col)
    ids = ", ".join(str(int(x)) for x in query_ids)
    exact = (
        f"CAST(floor(((-2.0 * {dot_expr('q.qv', 'v.v', sql=True)})"
        f" + {dot_expr('v.v', 'v.v', sql=True)}) * 1e10 + 0.5) AS BIGINT)"
    )
    return f"""
    WITH short AS MATERIALIZED (
      SELECT q_id, vec_id FROM ({inner})
    ),
    v AS (SELECT {id_col} AS vec_id, {vec_col} AS v FROM {table}),
    qv AS (SELECT {id_col} AS q_id, {vec_col} AS qv FROM {table}
           WHERE {id_col} IN ({ids})),
    rescored AS (
      SELECT s.q_id, s.vec_id, {exact} AS exact_q
      FROM short s JOIN v ON v.vec_id = s.vec_id
      JOIN qv q ON q.q_id = s.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, exact_q,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY exact_q, vec_id) AS rnk
      FROM rescored
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rank, vec_id, exact_q
    FROM ranked WHERE rnk <= {k}
    """


# ---------------------------------------------------------------------------
# Hard-negative mining — the contrastive-training data op: for each query
# vector, the most-similar corpus vectors with a DIFFERENT label. Those
# near-miss negatives are what embedding/reranker training wants next to
# the positives (high-cosine same-label pairs are easy; high-cosine
# different-label pairs carry the gradient signal).
#
# Scale shape = the stored-signature multi-table LSH probe: candidates
# come from bucket-equality joins against the ingest-time signature
# table, and the label EXCLUSION runs on the candidate set BEFORE the
# exact rescore — same-label candidates never pay the cosine. The label
# column rides the broadcast query table + the candidate join; the
# corpus is never scanned per query.
# ---------------------------------------------------------------------------


def _score_pairs_vectorized(
    paired: DataFrame, qvec_col: str, cvec_col: str
) -> DataFrame:
    """Exact pair-aligned cosine over Arrow batches: the vectorized
    left-associative dimension fold (0.0-seeded accumulators, raw
    division) — the ``cosine_neardup_pairs`` tile rescore applied to an
    explicit pair list. Emits the input columns minus the vectors plus
    ``cosine``, bit-identical to ``F.expr(cosine_expr(qvec, cvec))``
    (same fold order, same IEEE ops), but Arrow-batched instead of a
    per-row interpreted HOF lambda."""
    import numpy as np
    import pandas as pd  # noqa: F401 — Arrow batches arrive as pandas

    keep = [c for c in paired.columns if c not in (qvec_col, cvec_col)]
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in paired.schema
        if f.name in keep
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.vstack(pdf[qvec_col].to_numpy()).astype("float64")
            Bm = np.vstack(pdf[cvec_col].to_numpy()).astype("float64")
            m = A.shape[0]
            dot = np.zeros(m)
            na = np.zeros(m)
            nb = np.zeros(m)
            for i in range(A.shape[1]):
                dot += A[:, i] * Bm[:, i]
                na += A[:, i] * A[:, i]
                nb += Bm[:, i] * Bm[:, i]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
            out = pdf[keep].copy()
            out["cosine"] = cos
            yield out

    return paired.mapInPandas(score, f"{fields}, cosine double")


def hard_negative_mining(
    emb: DataFrame,
    query_ids: "list[int] | DataFrame",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Top-k hardest negatives per query: LSH candidates (any-table
    bucket share, distinct-ed), same-label candidates dropped before
    scoring, exact cosine rescore, ties on neighbor id. Returns
    ``(query_id, query_label, neighbor_id, neighbor_label, cosine,
    rnk)``.

    ``query_ids`` may be a literal id list (ad-hoc probes: query frames
    broadcast, the rescore is the shared fold-order cosine expression —
    fine at literal-list volume) or a single-column **DataFrame**
    (production mining, where the whole training set is the query set):
    query frames then join hash-partitioned, and the rescore runs as an
    Arrow-batched ``mapInPandas`` vectorized left-associative dimension
    fold — bit-identical values to the expression path (same 0.0-seeded
    fold order, same raw division), but never the per-pair interpreted
    HOF-lambda cliff at 10^6+ candidate pairs (CLAUDE.md perf gotchas;
    the ``cosine_neardup_pairs`` tile kernel's rescore, pair-aligned)."""
    bulk = isinstance(query_ids, DataFrame)
    sig = (
        signatures
        if signatures is not None
        else lsh_signature_table(emb, id_col, vec_col)
    )

    if bulk:
        q_ids = query_ids.select(
            F.col(query_ids.columns[0]).cast("long").alias("query_id")
        )
        _q_filter = lambda df, col: df.join(  # noqa: E731
            q_ids.select(F.col("query_id").alias(col)), col, "left_semi"
        )
        _maybe_bcast = lambda df: df  # noqa: E731 — query side can be huge
    else:
        ids = [int(i) for i in query_ids]
        _q_filter = lambda df, col: df.where(F.col(col).isin(ids))  # noqa: E731
        _maybe_bcast = F.broadcast

    labels = emb.select(F.col(id_col).alias("_lid"), F.col(label_col).alias("_lbl"))
    q_sig = _q_filter(
        sig.select(F.col(id_col).alias("query_id"), "table_id", "bucket"),
        "query_id",
    )
    cand = (
        sig.select(F.col(id_col).alias("neighbor_id"), "table_id", "bucket")
        .join(_maybe_bcast(q_sig), ["table_id", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q_lbl = _q_filter(
        labels.select(
            F.col("_lid").alias("query_id"), F.col("_lbl").alias("query_label")
        ),
        "query_id",
    )
    n_lbl = labels.select(
        F.col("_lid").alias("neighbor_id"), F.col("_lbl").alias("neighbor_label")
    )
    # label exclusion BEFORE the cosine: negatives only reach the rescore
    filtered = (
        cand.join(n_lbl, "neighbor_id")
        .join(_maybe_bcast(q_lbl), "query_id")
        .where(F.col("neighbor_label") != F.col("query_label"))
    )
    par = emb.sparkSession.sparkContext.defaultParallelism
    qvecs = _q_filter(
        emb.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")),
        "query_id",
    )
    cvecs = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"))
    paired = (
        filtered.repartition(par)
        .join(cvecs, "neighbor_id")
        .join(_maybe_bcast(qvecs), "query_id")
    )
    if bulk:
        scored = _score_pairs_vectorized(paired, "qvec", "cvec")
    else:
        scored = paired.withColumn("cosine", F.expr(cosine_expr("qvec", "cvec")))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine", 6).alias("cosine"),
            "rnk",
        )
        .transform(_sorted_display, "query_id", "rnk")
    )


def hard_negative_mining_sql(
    table: str,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    table_planes: list[list[list[float]]] | None = None,
    query_where: str | None = None,
) -> str:
    """DuckDB twin: same inline bucket expansion, same label exclusion
    before the (identical fold-order) cosine, same tie-break. The query
    set is either a literal id list or a predicate (``query_where``, the
    twin of the bulk DataFrame path)."""
    tp = TABLE_PLANES if table_planes is None else table_planes
    if query_where is not None:
        qpred = query_where
    else:
        qpred = f"{id_col} IN ({', '.join(str(i) for i in query_ids)})"
    per_table = " UNION ALL ".join(
        f"SELECT {id_col}, {t} AS table_id, "
        f"{bucket_expr(vec_col, sql=True, planes=p)} AS bucket FROM {table}"
        for t, p in enumerate(tp)
    )
    cos = cosine_expr("q.qvec", "c.cvec", sql=True)
    return f"""
    WITH bucketed AS ({per_table}),
    qb AS (SELECT {id_col} AS query_id, table_id, bucket FROM bucketed
           WHERE {qpred}),
    cand AS (
      SELECT DISTINCT qb.query_id, b.{id_col} AS neighbor_id
      FROM bucketed b JOIN qb USING (table_id, bucket)
      WHERE qb.query_id <> b.{id_col}
    ),
    filtered AS (
      SELECT cand.query_id, ql.{label_col} AS query_label,
             cand.neighbor_id, nl.{label_col} AS neighbor_label
      FROM cand
      JOIN {table} ql ON cand.query_id = ql.{id_col}
      JOIN {table} nl ON cand.neighbor_id = nl.{id_col}
      WHERE ql.{label_col} <> nl.{label_col}
    ),
    q AS (SELECT {id_col} AS query_id, {vec_col} AS qvec FROM {table}
          WHERE {qpred}),
    c AS (SELECT {id_col} AS neighbor_id, {vec_col} AS cvec FROM {table}),
    scored AS (
      SELECT f.query_id, f.query_label, f.neighbor_id, f.neighbor_label,
             {cos} AS cosine
      FROM filtered f JOIN q ON f.query_id = q.query_id
                      JOIN c ON f.neighbor_id = c.neighbor_id
    ), ranked AS (
      SELECT query_id, query_label, neighbor_id, neighbor_label,
             round(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored)
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rnk
    FROM ranked WHERE rnk <= {k} ORDER BY query_id, rnk
    """
