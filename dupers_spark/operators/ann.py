"""Similarity search over embedding columns (array<float>).

Paths, per the training-data-pipeline mandate:

  * brute-force cosine top-k — the exactness baseline. Two variants:
    the HOF form (zip_with + aggregate, deterministic left fold — the
    DuckDB value-oracle twin) and the numpy form (one matmul per Arrow
    batch with per-batch partial top-k — the production path at real
    embedding dims, where interpreted HOF eval is the hot path).
  * LSH-bucketed probe search (sign-random-projection): seeded hyperplanes
    → int bucket key; probes join only their own bucket (+ optional 1-bit
    multiprobe), then exact cosine re-rank. At 10^12 rows this turns a full
    scan per probe into an equi-join.
  * IVF-bucketed probe search: deterministic spherical k-means centroids →
    ``centroid_id`` partition key; each probe visits its nprobe nearest
    centroid buckets, exact re-rank inside. nprobe = n_centroids degrades
    to exact brute force — the driver value-oracle runs that configuration
    (HOF re-rank), the approximate path is recall-gated in pytest.
  * SRP near-dup pairs with OR-construction: L independent plane tables
    (banding, exactly like minhash) — a single p-plane table has agreement
    probability (1−θ/π)^p, only ≈0.29 at cos 0.95 with p=12; unioning L
    tables lifts recall to 1−(1−(1−θ/π)^p)^L ≈ 0.99 while grouped bounded
    bucket expansion (shared with the LSH engine) keeps the self-join
    capped with accounted drops.

HOF arithmetic is cast to double before summation — deterministic left fold
in array order (F.aggregate), independent of partitioning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window, functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(corpus: DataFrame, probes: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(probe_id, neighbor_id, cos) — exact top-k per probe, self excluded.

    Probe side is broadcast (small); ties broken by neighbor id for
    determinism.
    """
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("pvec"), F.col("cvec")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "cos", "rnk")
    )


def brute_force_topk_np(corpus: DataFrame, probes: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Vectorized exact top-k: same contract as brute_force_topk, numpy path.

    The probe matrix is broadcast to executors; each Arrow batch of the
    corpus does ONE (batch × dim) @ (dim × m) matmul and emits only its
    per-batch top-k per probe (partial top-k), so the final shuffle carries
    ≤ k·m·n_batches rows instead of n·m. This is the production shape at
    dim 512–1024 where the interpreted HOF dot product dominates.
    """
    import pandas as pd

    from dupers_spark.functions.fasthash import _stack_vecs

    spark = corpus.sparkSession
    p_rows = probes.select(id_col, vec_col).collect()
    pids = np.array([r[0] for r in p_rows], dtype=np.int64)
    P = np.stack([np.asarray(r[1], dtype=np.float64) for r in p_rows])
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((pids, Pn))

    def gen(batches):
        pids_, Pn_ = bc.value
        m = len(pids_)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack_vecs(pdf[vec_col])
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            S = Xn @ Pn_.T  # (n_batch, m)
            nid = pdf[id_col].to_numpy()
            S[nid[:, None] == pids_[None, :]] = -np.inf  # self-exclusion
            kk = min(k, len(pdf))
            # per-probe partial top-k within this batch
            idx = np.argpartition(-S, kk - 1, axis=0)[:kk]  # (kk, m)
            rows_p = np.repeat(pids_[None, :], kk, axis=0)
            yield pd.DataFrame({
                "probe_id": rows_p.ravel(),
                "neighbor_id": nid[idx].ravel(),
                "cos": np.take_along_axis(S, idx, axis=0).ravel(),
            })

    partial = corpus.select(id_col, vec_col).mapInPandas(
        gen, schema="probe_id long, neighbor_id long, cos double"
    ).filter(F.col("cos") != F.lit(float("-inf")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "cos", "rnk")
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_topk(corpus: DataFrame, probes: DataFrame, k: int = 5, dim: int = 64,
             n_planes: int = 16, seed: int = 42, multiprobe_bits: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: SRP bucket equi-join (+ multiprobe) → exact re-rank.

    multiprobe_bits: probes also visit buckets at Hamming distance 1 in the
    first ``multiprobe_bits`` plane bits — recall/cost dial. Bucket
    assignment is the vectorized matmul kernel (one table).
    """
    from dupers_spark.functions.fasthash import srp_table_keys_udf

    keys = srp_table_keys_udf(dim, 1, n_planes, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        F.element_at(keys(F.col(vec_col)), 1).alias("bucket"),
    )
    p0 = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("pvec"),
        F.element_at(keys(F.col(vec_col)), 1).alias("bucket"),
    )
    # multiprobe: original bucket + 1-bit flips of the lowest bits
    variants = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(multiprobe_bits)
    ]
    p = p0.withColumn("bucket", F.explode(F.array(*variants)))
    scored = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine(F.col("pvec"), F.col("cvec")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "cos", "rnk")
    )


def ivf_centroids(corpus: DataFrame, n_centroids: int = 64, iters: int = 5,
                  seed: int = 42, sample: int = 50_000,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> np.ndarray:
    """Spherical k-means centroids for an IVF index — deterministic.

    The training sample is bounded and order-stable (hash-ordered limit),
    so the centroids — and therefore the whole index — are reproducible
    for a given (seed, sample) regardless of partitioning. Lloyd iterations
    run on the driver over the ≤``sample`` vectors (centroids are k·dim
    floats — driver-sized by construction); the full corpus never leaves
    the executors.
    """
    # hash-threshold pre-filter before the sort-limit: a bare
    # orderBy(h).limit(sample) compiles to TakeOrdered, where EVERY task
    # ships its own top-``sample`` rows to the driver — 32 tasks × 20k
    # × 2 KB vectors ≈ 1.3 GB, over spark.driver.maxResultSize at a 1M-row
    # corpus. Keeping only rows with h below the ~1.2·sample/n quantile of
    # the uniform xxhash64 range first caps the driver transfer at
    # ~1.2 × sample rows total, at the cost of one cheap count job.
    n = corpus.count()
    hashed = corpus.select(
        F.col(vec_col).alias("v"),
        F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).alias("h"),
    )
    if n > sample:
        frac = 1.2 * sample / n
        # frac >= 1 would keep every row anyway, and its cutoff
        # (-2^63 + frac·2^64 ≥ 2^63) overflows a JVM long — skip the filter
        # entirely in that regime (sample < n ≤ 1.2·sample)
        if frac < 1.0:
            cutoff = min(int(-(2 ** 63) + frac * 2 ** 64), 2 ** 63 - 1)
            hashed = hashed.filter(F.col("h") < cutoff)
    rows = hashed.orderBy("h").limit(sample).select("v").collect()
    X = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(Xn))
    C = Xn[:k].copy()  # hash-ordered rows are a uniform random init
    for _ in range(iters):
        assign = np.argmax(Xn @ C.T, axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    C[j] = c / n
    return C


def ivf_assign(corpus: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, vec, centroid_id) — nearest centroid by cosine, one matmul per
    Arrow batch, assignment emitted inline (no join back onto the corpus).
    At warehouse scale this frame is written partitioned by
    ``centroid_id``: probes then prune to their nprobe partitions at scan
    time instead of filtering post-read."""
    import pandas as pd

    from dupers_spark.functions.fasthash import _stack_vecs

    bc = corpus.sparkSession.sparkContext.broadcast(np.ascontiguousarray(centroids))

    def gen(batches):
        C = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = _stack_vecs(pdf[vec_col])
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                vec_col: pdf[vec_col],
                "centroid_id": np.argmax(Xn @ C.T, axis=1).astype(np.int32),
            })

    return corpus.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} long, {vec_col} array<float>, centroid_id int"
    )


def ivf_topk(corpus: DataFrame, probes: DataFrame, k: int = 5,
             n_centroids: int = 64, nprobe: int = 8, iters: int = 5,
             seed: int = 42, sample: int = 50_000, rerank: str = "np",
             centroids: np.ndarray | None = None,
             index: DataFrame | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF approximate top-k: centroid bucketing → nprobe candidate
    partitions per probe → exact cosine re-rank. Same output contract as
    :func:`brute_force_topk` (probe_id, neighbor_id, cos, rnk).

    nprobe = n_centroids visits every bucket, making the result EXACTLY
    brute force — the driver value-oracle runs that configuration to check
    the bucketing/candidate machinery end-to-end, while the approximate
    production setting (nprobe ≪ n_centroids) is recall-gated in pytest.

    rerank="np": one matmul per Arrow batch with per-batch partial top-k
    (production at dim 512+). rerank="hof": JVM left-fold cosine — bitwise
    identical to the DuckDB oracle's list_reduce, used by the value oracle.

    Scale shape: the assigned corpus is the IVF index table (partition key
    ``centroid_id``); the (probe × selected-centroid) list is tiny and
    broadcast, so the candidate join is a pruned scan + broadcast hash
    join — no corpus shuffle, no cross join.
    """
    import pandas as pd

    from dupers_spark.functions.fasthash import _stack_vecs

    spark = corpus.sparkSession
    # centroids/index: pass a prebuilt index (ivf_centroids + ivf_assign —
    # amortized construction, like any ANN system) to time/run queries only
    C = centroids if centroids is not None else ivf_centroids(
        corpus, n_centroids, iters, seed, sample, id_col, vec_col)
    assigned = index if index is not None else ivf_assign(
        corpus, C, id_col, vec_col)

    p_rows = probes.select(id_col, vec_col).collect()
    pids = np.array([r[0] for r in p_rows], dtype=np.int64)
    P = np.stack([np.asarray(r[1], dtype=np.float64) for r in p_rows])
    Pn = P / np.maximum(np.linalg.norm(P, axis=1, keepdims=True), 1e-12)
    npr = min(nprobe, len(C))
    # top-nprobe centroids per probe, ties broken by centroid id (argsort
    # over (-score, id) is stable/deterministic)
    order = np.argsort(-(Pn @ C.T), kind="stable", axis=1)[:, :npr]
    union = sorted({int(c) for row in order for c in row})

    if rerank == "hof":
        sel = spark.createDataFrame(
            [(int(pids[i]), int(c)) for i in range(len(pids)) for c in order[i]],
            schema="probe_id long, centroid_id int",
        )
        cand = assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
            "centroid_id",
        ).join(F.broadcast(sel), "centroid_id").filter(
            F.col("probe_id") != F.col("neighbor_id")
        )
        pv = probes.select(F.col(id_col).alias("probe_id"),
                           F.col(vec_col).alias("pvec"))
        scored = cand.join(F.broadcast(pv), "probe_id").withColumn(
            "cos", cosine(F.col("pvec"), F.col("cvec"))
        )
    else:
        # single masked pass: filter to the union of selected buckets (a
        # partition-prunable predicate on the index's partition key), then
        # ONE (batch × dim)@(dim × m) matmul per Arrow batch with scores
        # masked to each probe's own nprobe buckets + per-batch partial
        # top-k — the corpus ships through Arrow once, never once per
        # (row, probe) pair (an earlier join formulation moved 2× the
        # corpus at 32 probes and lost to brute force outright)
        M = np.zeros((len(C), len(pids)), dtype=bool)
        for i in range(len(pids)):
            M[order[i], i] = True
        bc = spark.sparkContext.broadcast(
            (pids, np.ascontiguousarray(Pn), M)
        )

        def gen(batches):
            pids_, Pn_, M_ = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                X = _stack_vecs(pdf[vec_col])
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                S = Xn @ Pn_.T  # (n_batch, m)
                cid = pdf["centroid_id"].to_numpy()
                nid = pdf[id_col].to_numpy()
                S[~M_[cid]] = -np.inf          # outside probe's buckets
                S[nid[:, None] == pids_[None, :]] = -np.inf  # self
                kk = min(k, len(pdf))
                idx = np.argpartition(-S, kk - 1, axis=0)[:kk]
                rows_p = np.repeat(pids_[None, :], kk, axis=0)
                yield pd.DataFrame({
                    "probe_id": rows_p.ravel(),
                    "neighbor_id": nid[idx].ravel(),
                    "cos": np.take_along_axis(S, idx, axis=0).ravel(),
                })

        scored = assigned.filter(F.col("centroid_id").isin(union)).select(
            id_col, vec_col, "centroid_id"
        ).mapInPandas(
            gen, schema="probe_id long, neighbor_id long, cos double"
        ).filter(F.col("cos") != F.lit(float("-inf")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "cos", "rnk")
    )


def ivf_index_write(store, name: str, corpus: DataFrame,
                    n_centroids: int = 64, iters: int = 5, seed: int = 42,
                    sample: int = 50_000, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> np.ndarray:
    """Build and PERSIST the IVF index as two stage tables:
    ``<name>_centroids`` (centroid_id, vec — k·dim floats) and
    ``<name>_assigned`` (id, vec, centroid_id), the latter partitioned by
    centroid_id so a query's literal bucket-union isin() prunes whole
    partitions at the scan (ivf_topk's np path already emits exactly that
    predicate). Returns the centroid matrix."""
    C = ivf_centroids(corpus, n_centroids, iters, seed, sample,
                      id_col, vec_col)
    spark = corpus.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(C)],
        f"centroid_id int, {vec_col} array<float>")
    store.write(f"{name}_centroids", cdf)
    store.write(f"{name}_assigned", ivf_assign(corpus, C, id_col, vec_col),
                partition_by=["centroid_id"])
    return C


def ivf_index_centroids(store, name: str,
                        vec_col: str = "embedding") -> np.ndarray:
    """Read the persisted centroid matrix back (k rows — driver-sized by
    construction, the one sanctioned collect of this module's index I/O)."""
    rows = store.read(f"{name}_centroids").orderBy("centroid_id").collect()
    return np.array([r[vec_col] for r in rows], dtype=np.float32)


def ivf_index_append(store, name: str, new_vecs: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """Incremental IVF maintenance — FROZEN centroids, exactly how a
    production IVF serves appends: assign the batch to the existing
    centroids and append to the assigned stage. Queries over the grown
    index equal queries over a from-scratch assignment of the union with
    the same centroids, because assignment is a pure per-row function of
    (vector, centroids). Re-train centroids (ivf_index_write) only when
    drift degrades the bucket balance."""
    C = ivf_index_centroids(store, name, vec_col)
    store.append(f"{name}_assigned",
                 ivf_assign(new_vecs, C, id_col, vec_col),
                 partition_by=["centroid_id"])


def ivf_index_topk(store, name: str, probes: DataFrame, k: int = 5,
                   nprobe: int = 8, rerank: str = "np",
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Query the persisted IVF index (centroids + partitioned assignment)."""
    C = ivf_index_centroids(store, name, vec_col)
    assigned = store.read(f"{name}_assigned")
    return ivf_topk(assigned, probes, k=k, nprobe=nprobe, rerank=rerank,
                    centroids=C, index=assigned,
                    id_col=id_col, vec_col=vec_col)


def cosine_pairs_exact(corpus: DataFrame, threshold: float,
                       id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """EXACT all-pairs cosine ≥ τ — O(n²) verification/oracle variant.

    Production near-dup path is :func:`embedding_near_dup_pairs` (SRP
    buckets); this exists for recall oracles and small probe sets.
    """
    b = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    left = b.select(F.col("id").alias("a"), F.col("vec").alias("va"))
    right = b.select(F.col("id").alias("b"), F.col("vec").alias("vb"))
    return (
        left.join(right, F.col("a") < F.col("b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def srp_index(corpus: DataFrame, dim: int = 64, n_tables: int = 16,
              n_planes: int = 12, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(rep_id, vec, keys) — the persistable SRP index stage.

    Bucket keys are a pure function of (vector, planes-seed), so rows
    computed in different batches co-bucket exactly as a single build
    would — the property that makes the incremental probe's catch set
    identical to a full rebuild's.
    """
    from dupers_spark.functions.fasthash import srp_table_keys_udf

    keys_udf = srp_table_keys_udf(dim, n_tables, n_planes, seed)
    return corpus.select(
        F.col(id_col).cast("string").alias("rep_id"),
        F.col(vec_col).alias("vec"),
        keys_udf(F.col(vec_col)).alias("keys"),
    )


def incremental_embedding_near_dups(
    index: DataFrame, new_corpus: DataFrame, threshold: float = 0.95,
    dim: int = 64, n_tables: int = 16, n_planes: int = 12, seed: int = 42,
    max_bucket: int = 2000, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Append-batch embedding near-dups vs a persisted SRP index →
    (verified(a, b, cos ≥ τ), dropped(band, key, size), index_new).

    Same incremental shape as the caption/phash engines
    (minhash_lsh.incremental_bucket_pairs): the batch's touched (table,
    bucket) keys broadcast-probe the index — never reshuffled — and only
    pair participants' vectors are fetched for the exact-cosine verify.
    Because SRP keys are deterministic per vector (see :func:`srp_index`),
    (old-build pairs) ∪ (incremental pairs) equals a full rebuild's pair
    set exactly — not just up to clustering — whenever no bucket exceeds
    the ``max_bucket`` cap on either side alone. A bucket that was under
    the cap at old-build time but CROSSES it with the batch is finished
    rather than dropped: the kernel expands its new-touching pairs
    (O(q_new·q) ≤ cap², still a hard work bound), so the union equals the
    uncapped expansion of that bucket and appended rows never hit a recall
    cliff the resident rows didn't (the round-5 cap-boundary superset
    asymmetry is gone). Only buckets where one SIDE alone exceeds the cap
    — which the corresponding full build also drops — are dropped, with
    accounting. Callers append ``index_new`` to the index stage.
    """
    from dupers_spark.functions.fasthash import cosine_pair_udf
    from dupers_spark.operators.minhash_lsh import incremental_bucket_pairs

    id_type = dict(new_corpus.dtypes)[id_col]
    index_new = srp_index(new_corpus, dim, n_tables, n_planes, seed,
                          id_col, vec_col).localCheckpoint()
    explode = lambda df: df.select(  # noqa: E731
        "rep_id", F.posexplode("keys").alias("band", "key"))
    pairs, dropped = incremental_bucket_pairs(
        explode(index), explode(index_new), max_bucket)
    pairs = pairs.localCheckpoint()
    pair_ids = pairs.select(F.col("a").alias("rep_id")).unionByName(
        pairs.select(F.col("b").alias("rep_id"))).distinct()
    vecs = index.select("rep_id", "vec").unionByName(
        index_new.select("rep_id", "vec")
    ).join(F.broadcast(pair_ids), "rep_id", "leftsemi")
    cos2 = cosine_pair_udf()
    va = vecs.select(F.col("rep_id").alias("a"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("rep_id").alias("b"), F.col("vec").alias("vb"))
    verified = (
        pairs.join(va, "a").join(vb, "b")
        .withColumn("cos", cos2(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select(
            F.least(F.col("a").cast(id_type), F.col("b").cast(id_type)).alias("a"),
            F.greatest(F.col("a").cast(id_type), F.col("b").cast(id_type)).alias("b"),
            "cos",
        )
    )
    return verified, dropped, index_new


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.95,
                             dim: int = 64, n_tables: int = 16, n_planes: int = 12,
                             seed: int = 42, max_bucket: int = 2000,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             ) -> tuple[DataFrame, DataFrame]:
    """Embedding-cosine near-dup pairs via SRP with OR-construction →
    (pairs(a, b, cos ≥ τ), dropped_buckets(band, key, size)).

    L = n_tables independent p = n_planes plane tables, unioned — banding,
    exactly like minhash. A single 12-plane table has agreement probability
    (1−θ/π)^12 ≈ 0.29 at cos 0.95 (≈70% of true near-dups missed); with
    L=16 tables recall is 1−(1−0.29)^16 ≈ 0.996 at cos 0.95 and ≈0.98 at
    cos 0.93. Candidates are expanded with the same bounded-bucket kernel
    as the LSH/simhash engines (max_bucket cap, accounted drops), then
    verified with ONE exact-cosine matmul per Arrow batch.
    """
    from dupers_spark.functions.fasthash import cosine_pair_udf, srp_table_keys_udf
    from dupers_spark.operators.minhash_lsh import grouped_pair_expansion

    id_type = dict(corpus.dtypes)[id_col]
    keys_udf = srp_table_keys_udf(dim, n_tables, n_planes, seed)
    base = corpus.select(
        F.col(id_col).cast("string").alias("rep_id"),
        F.col(vec_col).alias("vec"),
        keys_udf(F.col(vec_col)).alias("keys"),
    ).localCheckpoint()  # consumed by banding + both verify sides (AQE
    # runs independent stages concurrently — see minhash_lsh.near_dup_edges)
    buckets = base.select(
        "rep_id", F.posexplode("keys").alias("band", "key")
    )
    cand, dropped = grouped_pair_expansion(buckets, max_bucket)
    cos2 = cosine_pair_udf()
    va = base.select(F.col("rep_id").alias("a"), F.col("vec").alias("va"))
    vb = base.select(F.col("rep_id").alias("b"), F.col("vec").alias("vb"))
    verified = (
        cand.join(va, "a").join(vb, "b")
        .withColumn("cos", cos2(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select(
            F.least(F.col("a").cast(id_type), F.col("b").cast(id_type)).alias("a"),
            F.greatest(F.col("a").cast(id_type), F.col("b").cast(id_type)).alias("b"),
            "cos",
        )
    )
    return verified, dropped
