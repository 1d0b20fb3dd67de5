"""Structured Streaming ingest: continuous signature maintenance.

The reference is strictly batch (SURVEY §2.9 — one process, one scan,
exit; main.go:105-145); its *incremental* semantics (`up` hashes only new
files, dupe.go:941-966) map naturally onto a streaming source feeding the
same batch operators through foreachBatch:

  readStream (new image files/partitions)
    → foreachBatch: left-anti vs existing signatures (skip known ids)
    → sha256 + append to the signatures stage table

Event-stream analytics (windowed counts with watermark) are included for
the `events` table family — the streaming surface a training-data pipeline
needs for ingest monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from dupers_spark.operators import exact
from dupers_spark.sources.datagen import IMAGES_SCHEMA


def _committed_parquet(path: str) -> bool:
    """True iff the directory holds ≥1 COMMITTED parquet file.

    Bare os.path.exists would wedge a restarted stream forever when a
    crash left only an empty dir / _temporary droppings from the very
    first batch: exists→read→'unable to infer schema'→retry→same error.
    Existence of committed data — not of the directory — is the real
    'index is present' signal."""
    import glob
    import os

    return bool(glob.glob(os.path.join(path, "**", "*.parquet"),
                          recursive=True))


def _maintain_contained(spark: SparkSession, cfg) -> None:
    """Run maintain_warehouse but CONTAIN any exception — the hook fires
    inside foreachBatch AFTER non-idempotent appends have committed, and
    foreachBatch is at-least-once: letting a maintenance failure propagate
    would make Structured Streaming replay the whole micro-batch, silently
    double-appending rows the sentinel no longer guards. Compaction is
    best-effort and crash-healable (rename-aside swap + heal), so a failed
    attempt costs nothing and simply retries at the next Nth batch; the
    failure is logged loudly, never raised."""
    import logging

    from dupers_spark.plans.pipeline import maintain_warehouse

    try:
        maintain_warehouse(spark, cfg)
    except Exception:
        logging.getLogger(__name__).exception(
            "maintain_warehouse failed (contained: raising inside "
            "foreachBatch would replay the committed append); will retry "
            "at the next maintenance batch")


def stream_signatures(
    spark: SparkSession,
    input_dir: str,
    signatures_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
) -> StreamingQuery:
    """File-source stream of image parquet → incremental signature appends.

    Each micro-batch applies the walkCompare skip (left-anti on image_id
    vs the accumulated signature table) before hashing — known rows are
    never re-hashed, exactly dupers' ErrPathExist fast path.
    """
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        spark_b = batch.sparkSession
        # committed-data presence decides "no table yet"; a failing read of
        # an existing table propagates so the stream retries instead of
        # re-hashing rows it already committed (see stream_near_dup_edges)
        if _committed_parquet(signatures_dir):
            existing = spark_b.read.parquet(signatures_dir).select("image_id")
        else:
            existing = None
        fresh = batch if existing is None else exact.incremental_new(batch, existing)
        sigs = exact.signatures(fresh)
        sigs.write.mode("append").parquet(signatures_dir)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_near_dup_edges(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    cfg=None,
    trigger_once: bool = True,
    max_files_per_trigger: int = 4,
    maintain_every: int | None = None,
) -> StreamingQuery:
    """File-source image stream → continuous caption near-dup maintenance:
    each micro-batch probes the ACCUMULATED signature index
    (minhash_lsh.incremental_near_dup_edges — index broadcast-probed,
    never recomputed), appends its verified edges to
    ``<warehouse>/lsh_edges`` and its new signatures to
    ``<warehouse>/lsh_sigs``. The first batch bootstraps the index with a
    full build. This is dupers' incremental `up` running continuously; the
    edge log is consumed by connected_components (which dedups pairs, so
    foreachBatch's at-least-once parquet appends on retry are harmless).

    maintain_every: after every Nth batch, run the warehouse compaction
    policy (plans.pipeline.maintain_warehouse) over this stream's stage
    dirs — the appends here accrete ≈1 file per touched kb partition per
    batch, and a long-horizon stream needs the merge to be automatic, not
    an operator's chore.
    """
    import os

    from dupers_spark.operators import minhash_lsh as ml

    cfg = cfg or ml.LSHConfig()
    sig_dir = os.path.join(warehouse, "lsh_sigs")
    bucket_dir = os.path.join(warehouse, "lsh_buckets")
    edge_dir = os.path.join(warehouse, "lsh_edges")
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        sb = batch.sparkSession
        caps = batch.select("image_id", "caption")
        # "no index yet" is decided by COMMITTED-DATA presence, never by a
        # swallowed read failure: a transient/corrupt read after batches
        # have committed must make the streaming query retry the batch, not
        # silently re-bootstrap against the batch alone (which would
        # permanently lose cross-batch near-dup edges from the append-only
        # edge log)
        if _committed_parquet(sig_dir):
            index = sb.read.parquet(sig_dir).select(
                "rep_id", "shingles", "bands")
            # steady state probes the persisted band-bucket stage — a
            # skinny kb-pruned scan, not a per-batch re-explosion of the
            # whole signature stage (same contract as
            # DedupPipeline.run_incremental)
            if _committed_parquet(bucket_dir):
                index_buckets = sb.read.parquet(bucket_dir)
            else:
                # pre-bucket-stage warehouse: backfill the FULL bucket
                # index once — appending only this batch's buckets would
                # leave every later probe blind to the whole pre-upgrade
                # corpus (silent cross-batch edge loss). Staged write +
                # atomic rename so a crashed backfill can never be taken
                # for a complete one.
                import shutil

                tmp = bucket_dir + ".backfill"
                if os.path.exists(tmp):
                    shutil.rmtree(tmp)
                ml.with_kb(ml.band_buckets(index, cfg)).repartition("kb") \
                    .write.partitionBy("kb").parquet(tmp)
                if os.path.exists(bucket_dir):  # uncommitted droppings only
                    shutil.rmtree(bucket_dir)
                os.rename(tmp, bucket_dir)
                index_buckets = sb.read.parquet(bucket_dir)
            kb_mod = ml.kb_modulus(index_buckets)
            edges, _v, _dropped, sigs_out = ml.incremental_near_dup_edges(
                index, caps, cfg, index_buckets=index_buckets)
        else:
            kb_mod = ml.KB_PARTITIONS
            grouped = ml.collapse_groups(caps).localCheckpoint()
            star = ml.star_edges(caps, grouped)
            sigs_out = ml.signatures(
                grouped.select("rep_id", "caption"), cfg).localCheckpoint()
            buckets = ml.band_buckets(sigs_out, cfg)
            pairs, _dropped = ml.candidate_pairs(buckets, cfg)
            verified = ml.verify_pairs(pairs, sigs_out, cfg)
            edges = star.unionByName(verified.select("a", "b"))
        edges.write.mode("append").parquet(edge_dir)
        # repartition("kb") → ≈1 file per touched kb per batch, not
        # tasks×kb tiny files accreting over the stream's lifetime; the
        # modulus follows the stage at rest (kb_modulus) so appended rows
        # land in the partitions probes will prune to
        ml.with_kb(ml.band_buckets(sigs_out, cfg), kb_mod).repartition("kb") \
            .write.mode("append").partitionBy("kb").parquet(bucket_dir)
        sigs_out.select("rep_id", "shingles", "bands") \
            .write.mode("append").parquet(sig_dir)
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            _maintain_contained(sb, warehouse)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_pipeline_appends(
    spark: SparkSession,
    input_dir: str,
    cfg,
    checkpoint_dir: str,
    trigger_once: bool = True,
    max_files_per_trigger: int = 4,
    maintain_every: int | None = None,
) -> StreamingQuery:
    """Continuous FULL-pipeline maintenance: each micro-batch of new images
    runs ``DedupPipeline.run_incremental`` against the completed warehouse
    — exact digests, caption LSH and phash engines probe their persisted
    index stages, append, and recluster, with the pipeline's whole
    hardening intact (``_INC_PENDING`` exclusivity, append lineage rows,
    markers refreshed last). The streaming twin of `dupers up` for the
    entire engine, not just one index.

    cfg: the PipelineConfig of an EXISTING warehouse built by ``run()``.

    Retry semantics: foreachBatch is at-least-once, but pipeline appends
    are not idempotent — a crash mid-append leaves the sentinel, so the
    RETRY refuses loudly (the streaming query fails) instead of silently
    double-appending; recover with a full ``run()`` over the union, which
    clears the sentinel. This is deliberate: loud stop + rebuild beats
    silent duplicate signatures/edges.

    maintain_every: run ``maintain_warehouse`` after every Nth batch — the
    automated compaction hook that keeps a long-horizon stream's file and
    shard counts bounded (each append adds ≈1 file per touched kb
    partition; nothing else ever merges them). It runs AFTER
    run_incremental releases the append sentinel, inside the same
    single-threaded foreachBatch, so it can never interleave with an
    append on this stream — and its failures are CONTAINED
    (:func:`_maintain_contained`): the append is already committed, so a
    maintenance exception must log-and-skip rather than trigger an
    at-least-once replay that would double-append the batch.
    """
    from dupers_spark.plans.pipeline import DedupPipeline

    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):  # empty trigger — nothing to append
            return
        DedupPipeline(batch.sparkSession, cfg).run_incremental(batch)
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            _maintain_contained(batch.sparkSession, cfg)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — works on a
    streaming OR batch events DataFrame (same expression either way)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "cnt", "sum_value",
        )
    )


def stream_first_seen(
    sigs: DataFrame,
    id_col: str = "image_id",
    digest_col: str = "sha256",
) -> DataFrame:
    """Stateful streaming exact-dedup via ``applyInPandasWithState``: the
    per-digest keyed state IS dupers' Compare map (checksum → exemplar,
    dupe.go:941-966), held in Spark's state store instead of being
    re-read from an index table every micro-batch (which is what the
    foreachBatch operators above do). Every input row is emitted
    annotated: a digest's first-ever occurrence carries is_first=true and
    becomes the state's exemplar; each later row points at that exemplar
    (``dup_of``) with its running duplicate ordinal.

    Scale shape: state is keyed by digest and sharded across executors by
    the state store (RocksDB provider on a real cluster), checkpointed
    with the query — state size is the distinct-digest count, the same
    cardinality dupers keeps in one process heap, but partitioned and
    crash-recoverable. No timeout: a digest's exemplar must outlive any
    idle gap, exactly like the on-disk bucket.

    Determinism under replay: within a micro-batch arrival order is
    nondeterministic, so a digest first seen in that batch takes the MIN
    id as exemplar — an at-least-once batch replay re-derives the
    identical exemplar (ordinals of replayed rows shift, the exemplar
    never does; exactly-once delivery needs a transactional sink, as with
    any streaming append).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def dedup(key, pdfs, state):
        import pandas as pd

        ids: list = []
        for pdf in pdfs:
            ids.extend(pdf[id_col].tolist())
        if not ids:
            return
        ids.sort()
        if state.exists:
            exemplar, n_seen = state.get
        else:
            exemplar, n_seen = ids[0], 0
        state.update((exemplar, n_seen + len(ids)))
        # exactly ONE is_first row per digest ever: the sorted batch's
        # first element, and only in the batch that creates the state —
        # a duplicate (digest, id) delivery in that same batch must NOT
        # yield a second exemplar row
        firsts = [False] * len(ids)
        if n_seen == 0:
            firsts[0] = True
        yield pd.DataFrame({
            digest_col: [key[0]] * len(ids),
            id_col: ids,
            "is_first": firsts,
            "dup_of": [exemplar] * len(ids),
            "seen_ordinal": list(range(n_seen, n_seen + len(ids))),
        })

    return sigs.groupBy(digest_col).applyInPandasWithState(
        dedup,
        outputStructType=(
            f"{digest_col} string, {id_col} string, is_first boolean, "
            "dup_of string, seen_ordinal long"),
        stateStructType="exemplar string, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """File-source image stream → sha256 → stateful first-seen dedup →
    parquet append. The stateful twin of stream_signatures: the skip-known
    probe costs zero index reads per batch because the digest map lives in
    the (checkpointed) state store."""
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    sigs = stream.select(
        "image_id", F.sha2(F.col("bytes"), 256).alias("sha256"))
    out = stream_first_seen(sigs)
    return (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
