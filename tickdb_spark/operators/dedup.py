"""Deduplication family for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (the whole point — these run over 100 TB of documents):

* **exact**: one hash-aggregate on a 128-bit content hash. No text
  comparison ever crosses the wire — only (hash, id).
* **n-gram Jaccard / MinHash verify**: pairwise work is confined to LSH
  candidates; the full O(n²) join never materializes. Shingle explosion is
  map-side; the heavy joins key on short hash strings.
* **MinHash+LSH**: k min-hashes per doc (one aggregate), banded into b
  buckets; candidate pairs come from equality joins on (band_idx, band
  signature) — shuffle keyed on short strings, skew-safe under AQE.
* **SimHash**: 32-bit fingerprints via 32 conditional-sum aggregates (no
  per-bit explode); near-dup candidates via pigeonholed 8-bit block
  equality joins (hamming ≤ 3 ⟹ one of four blocks equal).
* **embedding cosine**: brute-force is quadratic — provided as the exact
  baseline; the scale path is LSH bucketing (operators/similarity.py).

MinHash uses the textbook universal family over ONE base hash: h =
first 44 bits of md5(shingle) as an integer, then hash_i = (a_i·h + b_i)
mod P (P prime < 2^44, fixed pseudo-random a_i/b_i literals shared with
the oracle SQL). One md5 per shingle instead of k — measured 12 md5/row
→ 1 md5 + 12 integer mul-add-mods (codegen) — and both engines compute
the identical integers, so every stage stays oracle-checkable (a
property engine-specific murmur hashes don't have). 44-bit h × 17-bit
a_i stays < 2^62: no int64 overflow on either engine (DuckDB raises on
BIGINT overflow; Spark would silently wrap — both are avoided).
"""

from __future__ import annotations

import random as _random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tickdb_spark.cachereg import corpus_persist, dimension_persist

NGRAM_N = 3
MINHASH_K = 12  # total hash functions
LSH_BANDS = 4  # bands of MINHASH_K / LSH_BANDS rows each
MINHASH_P = 17_592_186_044_399  # largest prime below 2^44

_mh_rng = _random.Random(13)
#: (a_i, b_i) literals for the universal hash family, shared with SQL.
MH_COEF = [
    (_mh_rng.randrange(1, 1 << 17), _mh_rng.randrange(MINHASH_P))
    for _ in range(MINHASH_K)
]


def word_ngrams(col: Column, n: int = NGRAM_N) -> Column:
    """Distinct word n-gram shingles of a text column → array<string>.
    Texts shorter than n words shingle to the full text (so every doc has
    at least one shingle)."""
    toks = F.split(F.trim(col), r"\s+")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(grams)


def word_ngrams_sql(text_expr: str = "text", n: int = NGRAM_N) -> str:
    """DuckDB twin of :func:`word_ngrams` (1-based list slicing)."""
    toks = f"string_split_regex(trim({text_expr}), '\\s+')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by content hash; per row emit its group's canonical
    keeper (min id) and group size. ``is_keeper`` marks the row a pipeline
    would retain. One hash-aggregate + one broadcast-able self-join on the
    hash — no text shuffled."""
    hashed = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("group_size")
    )
    return (
        hashed.join(groups, "content_hash")
        .select(
            id_col,
            "content_hash",
            "keep_id",
            "group_size",
            (F.col(id_col) == F.col("keep_id")).alias("is_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard pairs (exact, for candidate verification or small corpora)
# ---------------------------------------------------------------------------


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    text_col: str,
    id_col: str,
    seen_hash_col: str = "content_hash",
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus — how a production
    pipeline actually runs: the historical side is a compact
    ``(content_hash)`` fingerprint table (16 bytes/doc, not the corpus),
    and each arriving batch does (1) within-batch canonical election,
    then (2) an anti-join of the batch's keepers against the seen hashes.
    Full-corpus re-dedup never happens.

    Returns the new batch's rows with ``is_new`` (survives both stages —
    append it and its hash) and ``dup_of_corpus`` (killed by stage 2).
    Scale: the join keys on the hash; with the fingerprint table bucketed
    by hash this is a co-located join, and the batch side is the small
    side — broadcast when it fits.
    """
    within = exact_dedup_groups(new_docs, text_col, id_col)
    seen_h = seen.select(F.col(seen_hash_col).alias("content_hash")).distinct()
    return (
        within.join(
            seen_h.withColumn("_seen", F.lit(True)), "content_hash", "left"
        )
        .select(
            id_col,
            "content_hash",
            "keep_id",
            "group_size",
            (F.col("is_keeper") & F.col("_seen").isNull()).alias("is_new"),
            F.col("_seen").isNotNull().alias("dup_of_corpus"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    n: int = NGRAM_N,
    prefix_filter: bool = True,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold. Exact.

    ``prefix_filter=False``: plain inverted-index join — explode shingles
    → self-join on shingle → count shared per pair. Every co-occurrence
    of every shingle becomes a join row, so frequent shingles dominate
    (Σ df² blowup).

    ``prefix_filter=True`` (default): AllPairs/PPJoin-style prefix
    filtering. Order each doc's shingles by a single global canonical
    order (ascending document frequency, then shingle — rare first);
    a pair can reach Jaccard ≥ τ only if the two *prefixes* — the first
    ``n_sh − ceil(τ·n_sh) + 1`` shingles per doc — intersect. Candidates
    come from the prefix-only self-join (frequent shingles land outside
    prefixes, killing the df² term), then only candidates are verified
    with an exact intersection count. Same output, strictly less join
    volume — this is the exact-dedup scale path when MinHash recall
    isn't acceptable.
    """
    # shingles feed several consumers (sizes + join sides); cache so the
    # tokenize+explode runs once, not per consumer (measured ~35% at
    # sf0.1; at 100 TB this would be a materialized intermediate table).
    # Shingles are hashed to 60-bit ints (md5 prefix) right at the source:
    # every downstream sort/join/group keys on 8-byte longs instead of
    # text, mirrored exactly in the oracle SQL. Distinct-shingle counts
    # are exact up to 60-bit collisions (~n²/2^61 — negligible, and both
    # engines hash identically so the gate is unaffected regardless).
    # r16 opt, two fixes from stage profiling (guide §1.1/§2.5):
    # (a) repartition the input — a single-split corpus serializes the
    # tokenize/explode onto ONE task (the r10 corpus-projection rule;
    # callers that already fanned out pay one tiny extra exchange);
    # (b) materialize the cache EAGERLY (count()) — a lazy cache is
    # re-executed by every parallel consumer stage of the first action
    # (r13 lesson; measured 3 near-identical ~10 s tokenize stages per
    # triangle-counts run). count() keeps the cache (instead of the
    # containment_pairs eager checkpoint) because nine registry entries
    # share this detector plan verbatim and InMemoryRelation reuse makes
    # every later entry's detector free within a session.
    # r17: the substrate is corpus-TOKEN-sized, so it goes through the
    # bounded corpus_persist registry (explicit storage level + FIFO
    # unpersist past the slot cap — see cachereg module docstring for
    # the spill contract). sizes/prefix below stay on plain cache():
    # dimension-sized, footprint independent of token volume.
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = corpus_persist(df.repartition(par).select(
        F.col(id_col).alias("id"), F.explode(word_ngrams(F.col(text_col), n)).alias("shingle")
    ).select(
        "id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("shingle"),
    ))
    # sizes is referenced FIVE times (ranked join, candidate length
    # filter ×2, final Jaccard ×2) and each broadcast-build reference
    # re-aggregated the whole shingle frame — cache + materialize it
    # too (plan profiling r16: the detector's wall was ~12 broadcast
    # subtree jobs each recomputing sizes/dfreq/window work).
    sizes = (
        sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh")).cache()
    )
    sizes.count()
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))

    if not prefix_filter:
        a, b = sh.alias("a"), sh.alias("b")
        shared = (
            a.join(
                b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id"))
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
    else:
        # Global canonical order: (document frequency, shingle). Both docs
        # of any pair rank their shingles identically, which the prefix
        # guarantee requires.
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            sh.join(dfreq, "shingle")
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("id").orderBy("df", "shingle")
                ),
            )
            .join(sizes, "id")
        )
        # p = n_sh − ceil(τ·n_sh) + 1, with an epsilon inside the ceil: FP
        # can round τ·n_sh past an integer (0.8·5 → 4.0000000000000002 →
        # ceil 5), which would SHORTEN the prefix and silently drop true
        # pairs. The epsilon biases toward a longer prefix — extra
        # candidates get killed by exact verify; missed ones are gone.
        plen = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9)) + 1
        # prefix feeds BOTH sides of the candidate self-join; without
        # materialization each side re-runs the dfreq join + the ranking
        # window (r16 plan profiling, same class as sizes above).
        prefix = ranked.where(F.col("rnk") <= plen).select("id", "shingle").cache()
        prefix.count()
        pa, pb = prefix.alias("pa"), prefix.alias("pb")
        candidates = (
            pa.join(
                pb,
                (F.col("pa.shingle") == F.col("pb.shingle"))
                & (F.col("pa.id") < F.col("pb.id")),
            )
            .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
            .distinct()
            # length filter: |B| ≥ τ·|A| is necessary for Jaccard ≥ τ
            # (conservative epsilon again — only prunes, never decides)
            .join(sa, "id_a")
            .join(sb, "id_b")
            .where(
                F.greatest("n_a", "n_b") * F.lit(threshold)
                <= F.least("n_a", "n_b") + F.lit(1e-9)
            )
            .select("id_a", "id_b")
        )
        # Exact verify confined to candidates: count true intersection.
        sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
        sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
        shared = (
            candidates.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )

    # r17 opt (guide §2.4 / construct_total): the VERIFIED pair output is
    # dimension-sized (pairs, never token volume) while its plan — prefix
    # self-join + exact verify — is the expensive part of every graph
    # consumer (nine entries share this τ=0.5 plan verbatim, and each was
    # re-running the join: CC collect, triangles wedge build, pagerank,
    # k-core, retention, leakage audits). A lazy dimension_persist makes
    # the first consumer's action materialize it once per session;
    # consumers that reference it multiply WITHIN one action keep their
    # own checkpoint/collect discipline (r12/r13 lessons).
    return dimension_persist(
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(
    table: str, text_col: str, id_col: str, threshold: float, n: int = NGRAM_N
) -> str:
    grams = word_ngrams_sql(text_col, n)
    return f"""
    WITH sh AS (
      SELECT id,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
      FROM (SELECT {id_col} AS id, unnest({grams}) AS shingle FROM {table})
    ), sizes AS (
      SELECT id, count(*) AS n_sh FROM sh GROUP BY id
    ), shared AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b,
           n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared) >= {threshold}
    """


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    tau_ppm: int = 800_000,
    n: int = 5,
    prefix_filter: bool = True,
) -> DataFrame:
    """Ordered near-CONTAINMENT pairs: ``C(a→b) = |S(a)∩S(b)| / |S(a)|``
    over distinct word-n-gram shingle sets, emitted when
    ``inter·10⁶ ≥ tau_ppm·|S(a)|`` (integer-exact threshold — no float
    division decides membership). Asymmetric by design: detects a doc
    ``a`` QUOTED or embedded inside a much larger ``b`` — the case
    symmetric Jaccard structurally misses (J ≤ |a|/|b| no matter how
    complete the overlap). The LLM-dedup use is boilerplate/quotation
    removal and contained-document collapse.

    ``prefix_filter=True``: the AllPairs prefix bound adapts to
    containment — a can miss at most ``|a| − ⌈τ|a|⌉`` of its shingles,
    so its first ``|a| − ⌈τ|a|⌉ + 1`` shingles under the global
    (df, shingle) order must hit B; only a's PREFIX joins the inverted
    index, b probes with all its shingles (the asymmetric prefix rule
    from Xiao et al.'s PPJoin family). ⌈τ|a|⌉ is computed with integer
    arithmetic (``(tau_ppm·n + 999999) div 10⁶``) so the bound can
    never be silently shortened by an FP ceil (the r6 epsilon lesson,
    retired here by not using floats at all).

    Returns ``(id_a, id_b, inter, n_a, containment_ppm)``; both
    directions of a mutual near-duplicate appear (each direction is its
    own claim)."""
    # EAGER checkpoint, not cache(): the shingle substrate is referenced
    # from 5+ independent stages of ONE action (dfreq, sizes, ranked,
    # both join sides of candidates and verify) which all launch before
    # a lazy cache has materialized anything — measured 34 s vs 7 s at
    # the 8x corpus for the identical plan (the r12 multiply-referenced-
    # subtree lesson, parallel-stage variant). The input repartition
    # parallelizes the tokenize/explode itself (single-split parquet =
    # one task, the r10 corpus-projection rule).
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = _hashed_shingles(
        df.repartition(par), text_col, id_col, n
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), "shingle")
    sh_b = sh.select(F.col("id").alias("id_b"), "shingle")
    if not prefix_filter:
        shared = (
            sh_a.join(sh_b, "shingle")
            .where(F.col("id_a") != F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            sh.join(dfreq, "shingle")
            # explicit-numPartitions repartition: AQE coalesces this
            # small-bytes/compute-heavy window input to one task
            # otherwise (the r9 _series_parallel rule) — same hash
            # distribution the window needs, so the exchange is free
            .repartition(par, "id")
            .withColumn(
                "rnk",
                F.row_number().over(Window.partitionBy("id").orderBy("df", "shingle")),
            )
            .join(sizes, "id")
        )
        plen = F.col("n_sh") - F.expr(
            f"({int(tau_ppm)}L * n_sh + 999999) div 1000000"
        ) + 1
        prefix = ranked.where(F.col("rnk") <= plen).select(
            F.col("id").alias("id_a"), "shingle"
        )
        candidates = (
            prefix.join(sh_b, "shingle")
            .where(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            # |A∩B| ≤ |B|, so containment needs |B| ≥ ⌈τ|A|⌉ — integer prune
            .join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("_na")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("_nb")), "id_b")
            .where(
                F.col("_nb") * F.lit(1_000_000)
                >= F.lit(int(tau_ppm)) * F.col("_na")
            )
            .select("id_a", "id_b")
        )
        shared = (
            candidates.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .where(
            F.col("inter") * F.lit(1_000_000) >= F.lit(int(tau_ppm)) * F.col("n_a")
        )
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("n_a").cast("long").alias("n_a"),
            F.expr("CAST(inter * 1000000 div n_a AS BIGINT)").alias(
                "containment_ppm"
            ),
        )
    )


def containment_pairs_sql(
    table: str, text_col: str, id_col: str, tau_ppm: int = 800_000, n: int = 5
) -> str:
    """DuckDB twin of :func:`containment_pairs` — the plain
    inverted-index form (the prefix filter only prunes candidates; the
    emitted pair set and values are identical by the exact verify)."""
    grams = word_ngrams_sql(text_col, n)
    return f"""
    WITH sh AS MATERIALIZED (
      SELECT id,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
      FROM (SELECT {id_col} AS id, unnest({grams}) AS shingle FROM {table})
    ), sizes AS MATERIALIZED (
      SELECT id, count(*) AS n_sh FROM sh GROUP BY id
    ), shared AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id <> b.id
      GROUP BY a.id, b.id
    )
    SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(inter * 1000000 // sa.n_sh AS BIGINT) AS containment_ppm
    FROM shared JOIN sizes sa ON sa.id = id_a
    WHERE inter * 1000000 >= {int(tau_ppm)} * sa.n_sh
    """


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = NGRAM_N
) -> DataFrame:
    """(id, shingle: 60-bit md5-prefix int) — the shared substrate for
    Jaccard verification AND MinHash signatures (the 44-bit MinHash base
    is ``shingle >> 16``: the first 11 hex chars of the same md5)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"),
    ).select(
        "id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("shingle"),
    )


def _sigs_from_hashed(sh: DataFrame, k: int) -> DataFrame:
    """MinHash signatures from hashed shingles: mh_i = min((a_i·h + b_i)
    mod P), h = shingle >> 16 (44 bits). One groupBy with k integer
    min-aggregates (map-side partial)."""
    h = F.shiftright("shingle", 16)
    aggs = [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(MH_COEF[:k])
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Near-dup pairs via banded LSH over MinHash signatures, verified with
    exact Jaccard ≥ threshold. The only pairwise work is on LSH candidates
    (docs agreeing on a full band)."""
    r = k // bands
    # One tokenize+md5 pass feeds BOTH the signatures and the exact-verify
    # join (cached); signatures derive their 44-bit base by shifting the
    # shared 60-bit shingle hash.
    # r16 opt: fan the single-split corpus + materialize the cache
    # eagerly — same two fixes as ngram_jaccard_pairs above (the lazy
    # cache was re-executed by the signature AND verify stages of one
    # action; measured as three ~11 s parallel stages in
    # eval_dedup_recall_lsh).
    # r17: corpus-token-sized substrate -> bounded corpus_persist
    # registry (explicit storage level + FIFO unpersist; see cachereg).
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = corpus_persist(_hashed_shingles(df.repartition(par), text_col, id_col))
    # banded feeds BOTH sides of the candidate self-join; materialize it
    # so each side reads the 12 min-aggregates instead of recomputing
    # them (r16 plan profiling — the broadcast-subtree class).
    sig = _sigs_from_hashed(sh, k)
    band_cols = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.concat_ws("#", *[F.col(f"mh_{bi * r + j}") for j in range(r)]).alias("band_sig"),
        )
        for bi in range(bands)
    ]
    banded = sig.select("id", F.explode(F.array(*band_cols)).alias("b")).select(
        "id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_sig").alias("band_sig")
    ).cache()
    banded.count()
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # Verify ONLY candidates with exact Jaccard — the full pairwise join
    # never happens; shingle lists are joined per candidate pair.
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("shingle"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("shingle"))
    shared = (
        candidates.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    # r17 opt: same dimension-sized output cache as ngram_jaccard_pairs —
    # the banded self-join + verify re-ran in every consumer entry.
    return dimension_persist(
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> str:
    r = k // bands
    grams = word_ngrams_sql(text_col)
    mh_aggs = ", ".join(
        f"min(((shingle >> 16) * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(MH_COEF[:k])
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, {bi} AS band_idx, "
        + " || '#' || ".join(f"mh_{bi * r + j}" for j in range(r))
        + " AS band_sig FROM sig"
        for bi in range(bands)
    )
    return f"""
    WITH sh AS (
      SELECT id,
             CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle
      FROM (SELECT {id_col} AS id, unnest({grams}) AS shingle FROM {table})
    ), sig AS (
      SELECT id, {mh_aggs} FROM sh GROUP BY id
    ), banded AS (
      {band_rows}
    ), candidates AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.id < b.id
    ), sizes AS (
      SELECT id, count(*) AS n_sh FROM sh GROUP BY id
    ), shared AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id
    )
    SELECT c.id_a, c.id_b,
           n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
    FROM candidates c
    JOIN shared s ON s.id_a = c.id_a AND s.id_b = c.id_b
    JOIN sizes sa ON sa.id = c.id_a
    JOIN sizes sb ON sb.id = c.id_b
    WHERE n_shared::DOUBLE / (sa.n_sh + sb.n_sh - n_shared) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash per doc over distinct word tokens.

    token → 32-bit value from the first 8 hex chars of md5; per bit j the
    doc accumulates +1/−1; fingerprint bit j is 1 iff the sum > 0. All
    integer arithmetic — reproducible on any engine, no explode-per-bit
    (32 conditional-sum aggregates in ONE groupBy).
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))).alias("tok"),
    )
    hv = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    toks = toks.select("id", hv.alias("hv"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        fp = term if fp is None else fp + term
    return agg.select("id", fp.alias("simhash"))


def simhash_sql(table: str, text_col: str, id_col: str) -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (hv // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(SIMHASH_BITS))
    return f"""
    WITH toks AS (
      SELECT {id_col} AS id,
             unnest(list_distinct(string_split_regex(trim({text_col}), '\\s+'))) AS tok
      FROM {table}
    ), hv AS (
      SELECT id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hv FROM toks
    ), sums AS (
      SELECT id, {bit_sums} FROM hv GROUP BY id
    )
    SELECT id, CAST({fp} AS BIGINT) AS simhash FROM sums
    """


def _simhash_blocks(max_hamming: int) -> list[tuple[int, int, int]]:
    """Minimal pigeonhole split: ``max_hamming + 1`` blocks of
    ``SIMHASH_BITS`` → (block_idx, shift, mask). Any pair within the
    hamming budget must agree on at least one whole block."""
    nb = max_hamming + 1
    width = SIMHASH_BITS // nb
    out = []
    for bi in range(nb):
        shift = bi * width
        w = SIMHASH_BITS - shift if bi == nb - 1 else width
        out.append((bi, shift, (1 << w) - 1))
    return out


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 1
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole: fingerprints within hamming ≤ h must agree on at least one
    of h+1 disjoint bit blocks → candidates come from equality joins on
    (block_idx, block_value), never a cross join. Fewer, wider blocks =
    far more selective candidate sets.
    """
    # r16 opt: the fingerprint frame is self-joined below — BOTH join
    # sides re-ran the whole tokenize+weighted-bit-majority pass (and a
    # lazy cache would not help: the two sides are parallel stages of
    # one action, the r13 parallel-stage recompute class). One row per
    # DOC (id, simhash long) — dimension-narrow at any corpus scale, so
    # the eager checkpoint materializes 16 B/doc, never token volume.
    fps = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    blocks = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block_idx"),
                        F.shiftright(F.col("simhash"), shift)
                        .bitwiseAND(mask)
                        .alias("block_val"),
                    )
                    for bi, shift, mask in _simhash_blocks(max_hamming)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", F.col("b.block_idx").alias("bi"), F.col("b.block_val").alias("bv"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs_sql(
    table: str, text_col: str, id_col: str, max_hamming: int = 1
) -> str:
    inner = simhash_sql(table, text_col, id_col)
    block_rows = " UNION ALL ".join(
        f"SELECT id, simhash, {bi} AS bi, (simhash // {1 << shift}) % {mask + 1} AS bv FROM fps"
        for bi, shift, mask in _simhash_blocks(max_hamming)
    )
    return f"""
    WITH fps AS ({inner}),
    blocks AS (
      {block_rows}
    ), cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM blocks a JOIN blocks b
        ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id
    )
    SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Segment-level (span) dedup across the corpus
# ---------------------------------------------------------------------------


def segment_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> DataFrame:
    """Remove text spans duplicated ANYWHERE in the corpus — the
    C4/RefinedWeb "repeated passage" removal step, at segment rather than
    document granularity: documents sharing boilerplate lose the repeated
    spans but keep their unique content.

    Compositional: non-overlapping ``window``-token segments come from
    :func:`tickdb_spark.functions.text.chunk_sliding` (stride = window);
    the global first occurrence of each segment hash (ordered by
    (doc id, position) — deterministic) survives; surviving segments
    reassemble in position order. Docs whose every segment was seen
    earlier emit no row.

    Scale: one shuffle on the segment hash (the window), one on the doc
    id (reassembly). Both carry segment text — at 100 TB, swap stage one
    for a hash-only pass then semi-join survivors back (same output,
    hashes cross the wire instead of text).
    """
    from tickdb_spark.functions.text import chunk_sliding

    segs = chunk_sliding(
        docs, text_col=text_col, id_col=id_col, window=window, stride=window
    )
    w = Window.partitionBy(F.md5("chunk_text")).orderBy(id_col, "chunk_id")
    kept = segs.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    ordered = F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(ordered, lambda s: s.getField("chunk_text")), " "
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def segment_dedup_sql(
    src: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> str:
    """DuckDB twin of :func:`segment_dedup`; ``src`` is a CTE/table name
    holding ``(doc_id, text)``."""
    from tickdb_spark.functions.text import chunk_sliding_sql

    chunks = chunk_sliding_sql(src, text_col, id_col, window=window, stride=window)
    return f"""
    WITH segs AS ({chunks}),
    r AS (
      SELECT {id_col}, chunk_id, chunk_text,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY {id_col}, chunk_id) AS rn
      FROM segs
    )
    SELECT {id_col},
           string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM r WHERE rn = 1 GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# Substring-level dedup at ARBITRARY boundaries (rolling windows)
# ---------------------------------------------------------------------------


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> DataFrame:
    """Remove every token span that repeats a ``window``-token sequence
    seen earlier ANYWHERE in the corpus, at arbitrary boundaries — the
    suffix-array substring dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (2022), re-expressed as dataflow:
    :func:`segment_dedup`'s aligned blocks miss a duplicated passage that
    starts mid-block; stride-1 rolling windows catch every alignment.

    Semantics (deterministic): among all full ``window``-token rolling
    windows in the corpus, the first occurrence of each distinct window
    (ordered by (doc id, position)) survives; every later occurrence
    marks its token range ``[start, start+window)`` for removal. Marked
    ranges are coalesced per document (gaps-and-islands) and the
    uncovered tokens reassemble in order. A document whose every token is
    covered emits no row.

    Scale shape: the stride-1 window stream is corpus-tokens × 1 rows —
    the window TEXT never shuffles (it collapses to its md5 before the
    rank shuffle, Catalyst prunes the rest), so stage one moves
    (hash, doc, pos) triples; interval coalescing is a doc-partitioned
    window; reassembly is one aggregate. Nothing is all-pairs and no
    suffix array is materialized.
    """
    from tickdb_spark.functions.text import chunk_sliding

    wins = (
        chunk_sliding(docs, text_col=text_col, id_col=id_col,
                      window=window, stride=1)
        .where(F.col("n_tokens") == window)
        .select(id_col, "chunk_id", F.md5("chunk_text").alias("_h"))
    )
    rnw = Window.partitionBy("_h").orderBy(id_col, "chunk_id")
    marked = (
        wins.withColumn("_rn", F.row_number().over(rnw))
        .where(F.col("_rn") > 1)
        # chunk_id is the 0-based start; token positions are 1-based
        .select(
            id_col,
            (F.col("chunk_id") + 1).alias("s"),
            (F.col("chunk_id") + window).alias("e"),
        )
    )
    wd = Window.partitionBy(id_col).orderBy("s")
    prevmax = F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        marked.withColumn(
            "_brk", (F.col("s") > F.coalesce(prevmax, F.lit(-1))).cast("int")
        )
        .withColumn(
            "_gid",
            F.sum("_brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_gid")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("ms", "me")).alias("_ivs"))
    )
    tok = docs.select(
        id_col,
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "_p0", "_tok"
        ),
    ).select(id_col, (F.col("_p0") + 1).alias("p"), "_tok")
    covered = F.exists(
        F.col("_ivs"),
        lambda i: (F.col("p") >= i.getField("ms"))
        & (F.col("p") <= i.getField("me")),
    )
    kept = (
        tok.join(islands, id_col, "left")
        .where(F.col("_ivs").isNull() | ~covered)
    )
    ordered = F.array_sort(F.collect_list(F.struct("p", "_tok")))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(ordered, lambda s: s.getField("_tok")), " "
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )


def substring_dedup_sql(
    src: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
) -> str:
    """DuckDB twin of :func:`substring_dedup`; ``src`` is a CTE/table
    name holding ``(doc_id, text)``."""
    from tickdb_spark.functions.text import chunk_sliding_sql

    chunks = chunk_sliding_sql(src, text_col, id_col, window=window, stride=1)
    toks = f"string_split_regex(trim({text_col}), '\\s+')"
    return f"""
    WITH wins AS MATERIALIZED (
      SELECT * FROM ({chunks}) WHERE n_tokens = {window}
    ),
    r AS (
      SELECT {id_col}, chunk_id,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY {id_col}, chunk_id) AS rn
      FROM wins
    ),
    marked AS (
      SELECT {id_col}, chunk_id + 1 AS s, chunk_id + {window} AS e
      FROM r WHERE rn > 1
    ),
    pm AS (
      SELECT *, MAX(e) OVER (PARTITION BY {id_col} ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      FROM marked
    ),
    isl AS (
      SELECT *, CASE WHEN s > COALESCE(prevmax, -1) THEN 1 ELSE 0 END AS brk
      FROM pm
    ),
    g AS (
      SELECT *, SUM(brk) OVER (PARTITION BY {id_col} ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
      FROM isl
    ),
    merged AS MATERIALIZED (
      SELECT {id_col}, MIN(s) AS ms, MAX(e) AS me FROM g
      GROUP BY {id_col}, gid
    ),
    d AS (SELECT {id_col}, {toks} AS toks FROM {src}),
    tok AS (
      SELECT {id_col}, toks[p] AS token, p
      FROM d, UNNEST(range(1, len(toks) + 1)) AS t(p)
    ),
    kept AS (
      SELECT t.{id_col}, t.p, t.token FROM tok t
      WHERE NOT EXISTS (SELECT 1 FROM merged m
                        WHERE m.{id_col} = t.{id_col}
                          AND t.p BETWEEN m.ms AND m.me)
    )
    SELECT {id_col}, string_agg(token, ' ' ORDER BY p) AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept GROUP BY {id_col}
    """


# ---------------------------------------------------------------------------
# 64-bit perceptual-hash near-duplicate pairs (image dHash / any 64-bit fp)
# ---------------------------------------------------------------------------


def dhash_near_pairs(
    sig: DataFrame,
    id_col: str = "media_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs over 64-bit fingerprints stored as two 32-bit
    BIGINT halves, Hamming ≤ ``max_hamming`` (default 3).

    Same pigeonhole as :func:`simhash_near_pairs`, lifted to 64 bits:
    with ``max_hamming + 1`` disjoint blocks (default 4 × 16 bits — two
    per half), any pair within the budget agrees on ≥ 1 whole block, so
    candidates come from equality joins on (block_idx, block_val) and the
    banded result EQUALS the brute-force result (recall 1 by
    construction, which is what lets a SQL oracle replay it as a plain
    all-pairs bit_count filter). Hamming distance is
    ``bit_count(hi⊕hi) + bit_count(lo⊕lo)`` — exact on any engine, no
    sign-bit hazard because each half stays in [0, 2^32).

    Scale: candidates ∝ Σ_bucket |bucket|², never |corpus|² — the stored
    (id, hi, lo) table is tiny next to the media bytes, and the block
    explode is ×(h+1) on that table only.
    """
    nb = max_hamming + 1
    width = 64 // nb
    block_cols = []
    for bi in range(nb):
        shift = bi * width
        w = 64 - shift if bi == nb - 1 else width
        # carve [shift, shift+w) out of the hi/lo halves (may straddle)
        parts = []
        if shift < 32:
            lo_w = min(w, 32 - shift)
            parts.append(
                F.shiftright(F.col(lo_col), shift).bitwiseAND((1 << lo_w) - 1)
            )
        if shift + w > 32:
            hi_lo = max(shift - 32, 0)
            hi_w = shift + w - 32 - hi_lo
            up = F.shiftright(F.col(hi_col), hi_lo).bitwiseAND((1 << hi_w) - 1)
            if parts:
                up = up * F.lit(1 << (32 - shift))
            parts.append(up)
        val = parts[0] if len(parts) == 1 else parts[0] + parts[1]
        block_cols.append(
            F.struct(F.lit(bi).alias("bi"), val.cast("long").alias("bv"))
        )
    blocks = sig.select(
        F.col(id_col).alias("id"),
        F.col(hi_col).alias("hi"),
        F.col(lo_col).alias("lo"),
        F.explode(F.array(*block_cols)).alias("b"),
    ).select("id", "hi", "lo", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.hi").alias("hi_a"),
            F.col("a.lo").alias("lo_a"),
            F.col("b.hi").alias("hi_b"),
            F.col("b.lo").alias("lo_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
