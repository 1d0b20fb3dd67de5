"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Every function here is a pure JVM expression designed to have a
value-identical DuckDB SQL twin (see __spark_entry__.oracle_sql), so the
driver's DuckDB gate checks VALUES, not just row counts. That forces the
hash layer onto the cross-engine polynomial hash (functions/hashing.py:
poly_hash) instead of engine-private xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from dupers_spark.functions import hashing as H

STOPWORDS = ["the", "a", "an", "of", "and", "or", "to", "in", "is", "it"]

# marker words per language for the n-gram/stopword language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "nicht", "ist"],
    "fr": ["le", "et", "les", "des", "est"],
    "es": ["el", "y", "los", "que", "es"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens; empty/blank text → empty array (not [''])."""
    return F.when(F.length(F.trim(col)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def add_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(…, n_tokens, n_chars2, avg_token_len) — BPE-ish subword estimate is
    n_chars/4 (the common ~4-chars-per-token heuristic), rounded down.
    """
    c = F.col(text_col)
    toks = tokens(c)
    return df.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_chars2", F.length(c)
    ).withColumn(
        "est_bpe_tokens", F.floor(F.length(c) / F.lit(4)).cast("long")
    ).withColumn(
        "avg_token_len",
        F.when(F.size(toks) > 0,
               F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
               / F.size(toks)).otherwise(F.lit(0.0)),
    )


def quality_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring signals: stopword ratio, alpha ratio, token stats,
    and a composite quality score in [0,1]. All ratios are double.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    alpha_chars = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    out = (
        df.withColumn("n_tokens", n_tok)
        .withColumn("stop_ratio",
                    F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(F.lit(0.0)))
        .withColumn("alpha_ratio",
                    F.when(F.length(c) > 0,
                           alpha_chars.cast("double") / F.length(c)).otherwise(F.lit(0.0)))
    )
    # composite score: favor mid-length docs with real words
    score = (
        F.least(F.col("n_tokens").cast("double") / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.col("alpha_ratio") * 0.4
        + F.least(F.col("stop_ratio") * F.lit(4.0), F.lit(1.0)) * 0.2
    )
    return out.withColumn("quality_score", F.round(score, 6))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language guess with deterministic tie-break order
    en > de > fr > es, else 'und' (no markers hit).
    """
    toks = tokens(F.col(text_col))

    def marker_counter(markers: list[str]) -> Column:
        # single-param lambda (a 2nd param would be bound to the array index)
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    counts = {lang: marker_counter(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*counts.values())
    guess = (
        F.when(best == 0, F.lit("und"))
        .when(counts["en"] == best, F.lit("en"))
        .when(counts["de"] == best, F.lit("de"))
        .when(counts["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return df.withColumn("lang_guess", guess)


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 4,
                id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: min cross-engine poly-hash over word k-grams
    (winnowing-style representative hash). Identical docs ⇒ identical
    fingerprints; near-identical docs collide with probability ≈ overlap.
    """
    sh = H.word_shingles(F.col(text_col), k)
    fp = F.array_min(F.transform(sh, lambda s: H.poly_hash(s)))
    return df.select(F.col(id_col), fp.alias("fingerprint"))
