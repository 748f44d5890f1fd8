"""Corpus-statistics operators: a language-model-flavored quality signal
(rare-n-gram ratio) over per-document k-gram counts.

Scale design: n-gram stats are two hash-shuffles (by (doc, shingle),
then by shingle) plus one shuffle back to doc — the minimal shape for
corpus-relative per-document scores; the per-(doc,shingle)
pre-aggregation means the shingle-keyed join moves counts, never raw
shingle occurrences.

Determinism: counts are exact integers; the only float op is one IEEE
division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tiledb_mariadb_spark.functions.dedup import with_shingles

# --- per-(doc, shingle) counts: the shared first stage ----------------------


def per_doc_shingle_counts(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, shingle, cnt): occurrence counts of each word-k-gram per doc.
    One shuffle; every corpus-relative score below joins this compact
    frame instead of re-exploding text."""
    return (
        with_shingles(df, id_col, text_col, k=k)
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- rare-n-gram ratio (LM-proxy quality signal) ----------------------------


def rare_ngram_ratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_corpus_count: int = 2,
) -> DataFrame:
    """Per-doc fraction of k-gram occurrences that are corpus-rare
    (total corpus occurrences ≤ ``max_corpus_count``).

    A cheap stand-in for LM perplexity: documents dominated by n-grams
    the rest of the corpus never produces are (in a quality-filter
    setting) gibberish/noise candidates; integer counts make the signal
    bit-reproducible where a real LM's float log-probs are not.
    """
    per = per_doc_shingle_counts(df, id_col, text_col, k)
    corpus = per.groupBy("shingle").agg(
        F.sum("cnt").cast("long").alias("corpus_cnt")
    )
    rare_occ = F.sum(
        F.when(F.col("corpus_cnt") <= max_corpus_count, F.col("cnt")).otherwise(
            F.lit(0)
        )
    ).cast("long")
    return (
        per.join(corpus, "shingle")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_ngrams"),
            rare_occ.alias("rare_ngrams"),
        )
        .withColumn(
            "rare_ratio",
            F.col("rare_ngrams") / F.col("n_ngrams").cast("double"),
        )
    )
