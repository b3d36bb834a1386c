"""Corpus-level n-gram language-model scoring — the cheap stand-in for
perplexity-based quality filtering (CCNet / Wenzek et al. 2020 score
documents with a KenLM model; at 100 TB the model *training* is itself a
distributed aggregation job, which is what this module does in-engine).

Pipeline: train bigram/unigram counts on a deterministic hash-sampled
split of the corpus (no leakage knob needed — the split is a pure id
filter, reproducible on any engine), then score every document by how
familiar its bigrams are to the model. All emitted statistics are exact
BIGINTs — familiarity sums, match/OOV counts — so the operator is
oracle-hash-checkable without any float-summation hazard (a true
log-prob would sum library ``ln`` values whose last-ulp behavior differs
across engines; the integer-familiarity form carries the same ranking
signal).

Scale shape: the model is a hash aggregate over exploded bigrams (key
cardinality is bounded by vocabulary squared, in practice Zipf-bounded —
the same argument as BPE training, ``operators/bpe.py``); scoring is one
equi-join of doc-bigram counts against the model (broadcastable when
the model is small, plain hash join otherwise) followed by a per-doc
hash aggregate. No windows, no driver state, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tickdb_spark.cachereg import corpus_persist
from tickdb_spark.functions.text import TOKEN_SEP
from tickdb_spark.operators.sampling import hash_sample, hash_sample_sql


def _doc_bigrams(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, bigram, mult): per-document bigram multiplicities."""
    toks = F.split(F.trim(F.col(text_col)), TOKEN_SEP)
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram"),
    )
    return grams.groupBy(id_col, "bigram").agg(
        F.count(F.lit(1)).cast("long").alias("mult")
    )


def bigram_familiarity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    train_fraction: float = 0.5,
) -> DataFrame:
    """Score every document against the train-split bigram model.

    Returns ``(id, n_bigrams, n_matched, n_oov, familiarity)`` — all
    BIGINT: ``familiarity = sum(doc multiplicity x model count)`` (high
    for in-distribution text, 0 for fully out-of-vocabulary documents),
    ``n_matched``/``n_oov`` count bigram occurrences with/without model
    support.
    """
    # ONE corpus explode (r16 opt): the model is the train-split id
    # filter + re-aggregation OF the per-doc gram table (the hash split
    # is a pure id predicate and per-doc multiplicities are independent
    # across docs, so the sums are identical to training on a separate
    # tokenize of the split — which is what this used to do, paying the
    # explode twice). doc_grams is exactly the scoring join's input, so
    # the eager cache adds no new state beyond what the join shuffles.
    # r17: corpus-token-sized substrate -> bounded corpus_persist
    # registry (explicit storage level + FIFO unpersist; see cachereg).
    doc_grams = corpus_persist(_doc_bigrams(docs, text_col, id_col))
    model = (
        hash_sample(doc_grams, id_col, train_fraction)
        .groupBy("bigram")
        .agg(F.sum("mult").cast("long").alias("model_count"))
    )
    scored = doc_grams.join(model, "bigram", "left")
    agg = scored.groupBy(id_col).agg(
        F.sum("mult").cast("long").alias("n_bigrams"),
        F.sum(F.when(F.col("model_count").isNotNull(), F.col("mult")).otherwise(0))
        .cast("long")
        .alias("n_matched"),
        F.sum(F.when(F.col("model_count").isNull(), F.col("mult")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.sum(F.col("mult") * F.coalesce("model_count", F.lit(0)))
        .cast("long")
        .alias("familiarity"),
    )
    # Documents with < 2 tokens have no bigrams at all — keep them with
    # zero counts so the output covers the corpus (left join on ids).
    ids = docs.select(id_col)
    return (
        ids.join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.coalesce("familiarity", F.lit(0)).cast("long").alias("familiarity"),
        )
    )


def bigram_familiarity_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id",
    train_fraction: float = 0.5,
) -> str:
    """DuckDB twin — identical split, tokenization, and integer sums
    (every SUM cast to BIGINT: DuckDB integer SUM returns HUGEINT)."""
    train = hash_sample_sql(table, id_col, train_fraction)
    return f"""
    WITH doc_grams AS (
      SELECT {id_col}, gram AS bigram, count(*)::BIGINT AS mult FROM (
        SELECT {id_col},
               unnest(CASE WHEN len(t) >= 2 THEN list_transform(
                        generate_series(1, len(t) - 1),
                        i -> array_to_string(t[i:i+1], ' '))
                      ELSE [] END) AS gram
        FROM (SELECT {id_col},
                     string_split_regex(trim({text_col}), '\\s+') AS t
              FROM {table})
      ) GROUP BY {id_col}, gram
    ),
    model AS (
      SELECT bigram, CAST(sum(mult) AS BIGINT) AS model_count
      FROM doc_grams
      WHERE {id_col} IN (SELECT {id_col} FROM ({train}))
      GROUP BY bigram
    ),
    scored AS (
      SELECT g.{id_col},
             CAST(sum(g.mult) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN m.model_count IS NOT NULL THEN g.mult ELSE 0 END)
                  AS BIGINT) AS n_matched,
             CAST(sum(CASE WHEN m.model_count IS NULL THEN g.mult ELSE 0 END)
                  AS BIGINT) AS n_oov,
             CAST(sum(g.mult * COALESCE(m.model_count, 0)) AS BIGINT) AS familiarity
      FROM doc_grams g LEFT JOIN model m USING (bigram)
      GROUP BY g.{id_col}
    )
    SELECT d.{id_col},
           COALESCE(s.n_bigrams, 0)::BIGINT AS n_bigrams,
           COALESCE(s.n_matched, 0)::BIGINT AS n_matched,
           COALESCE(s.n_oov, 0)::BIGINT AS n_oov,
           COALESCE(s.familiarity, 0)::BIGINT AS familiarity
    FROM {table} d LEFT JOIN scored s USING ({id_col})
    """
