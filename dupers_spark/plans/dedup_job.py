"""In-memory dedup job: the three edge families — exact SHA-256, caption
MinHash/LSH, perceptual Hamming — built from the operators directly, with
no stage tables, as concurrent branches through the pipeline's branch
runner (plans/pipeline.run_branches). The production DedupPipeline builds
the same families through its persisted stages; tests hold the two to the
same assignment.

Each branch ends in an eager localCheckpoint: the edge frames are
consumed by connected components AND by metrics counts, and Spark 4's AQE
recomputes lazily-persisted frames consumed from concurrent stages.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from dupers_spark.operators import exact, minhash_lsh as ml, simhash as sh
from dupers_spark.plans.pipeline import run_branches


def dedup_edges_concurrent(
    images: DataFrame,
    lsh_cfg: ml.LSHConfig | None = None,
    phash_radius: int = 3,
    recompute_phash: bool = False,
) -> DataFrame:
    """images(image_id, bytes, caption, phash) → union edge frame (a, b),
    the three families materialized concurrently.

    recompute_phash=True decodes payloads and rebuilds perceptual features
    (dupers normal mode); False trusts the stored phash column (-fast).
    """
    cfg = lsh_cfg or ml.LSHConfig()

    def exact_branch() -> DataFrame:
        sigs = exact.signatures(images)
        return exact.dup_edges(sigs).localCheckpoint()

    def lsh_branch() -> DataFrame:
        edges, _v, _d = ml.near_dup_edges(
            images.select("image_id", "caption"), cfg
        )
        return edges.localCheckpoint()

    def phash_branch() -> DataFrame:
        if recompute_phash:
            from dupers_spark.operators import multimodal as mm

            feats = (
                mm.image_features(images)
                .filter(F.col("decode_ok"))
                .select("image_id", "phash")
            )
        else:
            feats = images.select("image_id", "phash").filter(
                F.col("phash").isNotNull()
            )
        edges, _v, _d = sh.phash_near_dup_edges(feats, phash_radius)
        return edges.localCheckpoint()

    frames = run_branches(images.sparkSession, {
        "exact": exact_branch, "lsh": lsh_branch, "phash": phash_branch})
    return reduce(DataFrame.unionByName, frames.values())
