"""Deduplication family over text tables (`documents`): exact, n-gram
Jaccard, MinHash-LSH, SimHash — the training-data-pipeline counterparts of
the caption engines, each shaped for a DuckDB value-oracle where the math is
engine-portable.

Exact dedup uses sha256 (hex string — both engines agree). Jaccard and the
oracle-checked MinHash variant use the cross-engine polynomial hash; the
production MinHash path (operators/minhash_lsh.py) keeps xxhash64 for speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dupers_spark.functions import hashing as H


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", min_size: int = 2) -> DataFrame:
    """(digest, cnt, exemplar) for texts appearing more than once."""
    return (
        df.select(F.col(id_col).alias("id"), F.sha2(F.col(text_col), 256).alias("digest"))
        .groupBy("digest")
        .agg(F.count("*").alias("cnt"), F.min("id").alias("exemplar"))
        .filter(F.col("cnt") >= min_size)
    )


def ngram_jaccard_pairs(df: DataFrame, k: int = 3, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_df: int | None = 1000,
                        ) -> tuple[DataFrame, DataFrame]:
    """Word-k-gram Jaccard pairs via shingle inverted index →
    (pairs(a, b, jaccard), dropped_shingles(shingle, df)).

    explode distinct shingles → self-join on shingle → common counts →
    |A∩B| / (|A| + |B| − |A∩B|) ≥ τ. One shuffle on shingle, one on the
    pair key.

    max_df is the inverted-index flood guard: a shingle appearing in q docs
    contributes q² pair rows, so one stopword shingle present in 10⁶ docs
    would emit 10¹² rows. Shingles with document frequency > max_df are
    excluded from the join and returned in the accounting DF — this makes
    `common` a lower bound for pairs sharing dropped shingles (Jaccard
    denominators still use the TRUE per-doc sizes), i.e. capped recall
    loss, never quadratic blowup. The guard is ON by default (a naive
    caller at web scale must not get the 10¹²-row blowup); pass
    max_df=None explicitly for exact semantics (the oracle-checked
    configuration does).
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(H.word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    # true Jaccard denominators — computed BEFORE any df-capping
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    if max_df is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        dropped = freq.filter(F.col("df") > max_df)
        sh = sh.join(dropped.select("shingle"), "shingle", "left_anti")
    else:
        dropped = sh.sparkSession.createDataFrame([], "shingle string, df long")
    pairs = (
        sh.alias("l")
        .join(sh.alias("r"), "shingle")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sza") + F.col("szb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out, dropped


def minhash_rows_poly(df: DataFrame, num_perm: int = 16, k: int = 3, seed: int = 7,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Oracle-checkable MinHash: (id, perm, minhash) rows where the shingle
    hash is the cross-engine polynomial hash, so DuckDB reproduces the exact
    VALUES. Production banding uses the xxhash64 path instead.
    """
    a, b = H.perm_coeffs(num_perm, seed)
    hashed = F.transform(
        H.word_shingles(F.col(text_col), k), lambda s: H.poly_hash(s)
    )
    perms = F.array(*[
        F.struct(F.lit(i).alias("perm"), F.lit(int(ai)).alias("a"), F.lit(int(bi)).alias("b"))
        for i, (ai, bi) in enumerate(zip(a, b))
    ])
    sig = F.transform(
        perms,
        lambda p: F.struct(
            p["perm"].alias("perm"),
            F.array_min(
                F.transform(hashed, lambda x: F.pmod(p["a"] * x + p["b"], F.lit(H.P31)))
            ).alias("minhash"),
        ),
    )
    return df.select(F.col(id_col).alias("id"), F.explode(sig).alias("s")).select(
        "id", F.col("s.perm").alias("perm"), F.col("s.minhash").alias("minhash")
    )


def simhash_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", seed: int = 0,
                  impl: str = "pandas") -> DataFrame:
    """(id, simhash) over whitespace tokens.

    impl='pandas': Arrow numpy kernel (production; 64 interpreted SQL
    aggregates per row otherwise). impl='sql': pure-JVM variant.
    Engine-internal hash values — pytest-gated, no cross-engine oracle.
    """
    from dupers_spark.operators.textstats import tokens

    if impl == "pandas":
        from dupers_spark.functions.fasthash import simhash64_udf

        sh = simhash64_udf(seed)
        return df.select(
            F.col(id_col).alias("id"),
            sh(tokens(F.col(text_col))).alias("simhash"),
        )
    return df.select(
        F.col(id_col).alias("id"),
        H.simhash64(tokens(F.col(text_col)), seed).alias("simhash"),
    )


def simhash_table_poly(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_bits: int = 30) -> DataFrame:
    """(id, simhash) with the cross-engine poly-hash-seeded SimHash —
    value-identical SQL exists in DuckDB, so the driver oracle checks the
    actual hash VALUES (the production xxhash64 path stays pytest-gated).
    """
    from dupers_spark.operators.textstats import tokens

    return df.select(
        F.col(id_col).alias("id"),
        H.simhash_poly(tokens(F.col(text_col)), n_bits).alias("simhash"),
    )
