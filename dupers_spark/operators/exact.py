"""Exact duplicate engine — dupers' core semantics, Spark-first.

Reference behavior reimplemented (citations into /root/reference):
  * content digest = SHA-256 of the raw bytes        (pkg/dupe/parse/parse.go:217-231)
  * empty payloads index under sha256('') — only an
    all-zero checksum is rejected                    (pkg/dupe/dupe.go:142-144)
  * a row is never its own duplicate                 (pkg/dupe/dupe.go:1059-1061)
  * one exemplar per digest, map-insert semantics
    → we use deterministic min(image_id)             (pkg/dupe/parse/parse.go:31,113-115)
  * incremental re-index skips known ids             (pkg/dupe/dupe.go:941-966)
  * clean drops rows whose source vanished           (pkg/database/bucket/bucket.go:53-94)
  * dupe check = build/probe hash join on digest     (pkg/dupe/dupe.go:919-931,
                                                      pkg/dupe/parse/parse.go:102-117)

Every operator is a pure DataFrame transform: Catalyst prunes columns and
pushes the zero-byte filter into the parquet scan; the digest join is a
shuffle/broadcast hash join picked by AQE. Nothing here crosses into Python.

Scale notes (100 TB / 10^12 rows):
  * ``signatures`` carries only (image_id, bucket, sha256) — 32 B digests,
    never the image bytes, so the probe join shuffles ~50 B/row.
  * digest keys are uniformly distributed (SHA-256) → no skew; the join
    needs no salting. AQE coalesces post-shuffle partitions.
  * probe-side dedup checks broadcast when the probe set is small
    (the common "dupe <source> <buckets...>" shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def signatures(images: DataFrame, id_col: str = "image_id", payload_col: str = "bytes",
               bucket_col: str | None = "bucket") -> DataFrame:
    """images → (image_id[, bucket], sha256 hex) signature table.

    Empty payloads ARE indexed — they hash to sha256('') = e3b0c4... and
    group as duplicates of each other, matching the reference: the
    dupe.go:142-144 guard rejects only an all-zero *checksum*, and
    parse.Read returns the regular empty-input digest for empty files.
    Only NULL payloads (no content at all) are dropped. ``sha2`` runs
    JVM-side in whole-stage codegen; no Python boundary.
    """
    cols = [F.col(id_col).alias("image_id")]
    if bucket_col and bucket_col in images.columns:
        cols.append(F.col(bucket_col).alias("bucket"))
    cols.append(F.sha2(F.col(payload_col), 256).alias("sha256"))
    return images.filter(F.col(payload_col).isNotNull()).select(*cols)


def dup_pairs(sigs: DataFrame) -> DataFrame:
    """All exact-duplicate pairs (a < b) — self equi-join on digest.

    Canonical ordering gives each unordered pair once and implements
    self-exclusion (dupe.go:1059-1061) since a < b excludes a == b.
    """
    left = sigs.select(F.col("image_id").alias("a"), "sha256")
    right = sigs.select(F.col("image_id").alias("b"), "sha256")
    return (
        left.join(right, "sha256")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sha256")
    )


def dup_groups(sigs: DataFrame, min_size: int = 2) -> DataFrame:
    """Digest buckets with >1 member: (sha256, cnt, exemplar, members).

    The reference surfaces these implicitly during the walk
    (dupe.go:827-838); here it is one map-side-combinable groupBy.
    """
    return (
        sigs.groupBy("sha256")
        .agg(
            F.count("*").alias("cnt"),
            F.min("image_id").alias("exemplar"),
            F.sort_array(F.collect_list("image_id")).alias("members"),
        )
        .filter(F.col("cnt") >= min_size)
    )


def dup_edges(sigs: DataFrame) -> DataFrame:
    """Exact-dup star edges (member → exemplar) — the scale path.

    Primitive min agg + join-back; dup_groups' collect_list is kept for
    small result reporting but object aggregation over ~all-unique digests
    does not survive web scale (ObjectHashAggregate sort fallback).
    """
    exemplars = sigs.groupBy("sha256").agg(F.min("image_id").alias("exemplar"))
    return (
        sigs.join(exemplars, "sha256")
        .filter(F.col("image_id") != F.col("exemplar"))
        .select(F.col("image_id").alias("a"), F.col("exemplar").alias("b"))
    )


def first_exemplar(sigs: DataFrame) -> DataFrame:
    """One representative per digest — dupers' Checksums map keeps a single
    path per digest (parse.go:31,113-115; docs/README.md:198-201). The map's
    insert order is walk-dependent; we make it deterministic with min().
    """
    return sigs.groupBy("sha256").agg(F.min("image_id").alias("exemplar"))


def probe_matches(probe: DataFrame, index: DataFrame,
                  broadcast_index: bool = False) -> DataFrame:
    """The flagship `dupers dupe <source> [buckets...]` check (J1/J2).

    probe, index: signature-shaped DataFrames. Returns
    (image_id, sha256, exemplar[, bucket]) — one row per probe row whose
    digest exists in the index, matched to the index's single exemplar,
    excluding self-matches (dupe.go:1059-1061).

    broadcast_index=True hints the exemplar map (and bucket map) to every
    executor, skipping the probe-side exchange entirely — the reference's
    `-fast` mode holds the whole Compare map in memory (dupe.go:919-931),
    and its 213k files/s anecdote is exactly this shape. Use when the
    index is bounded (≲ tens of MB of digests); leave False to let AQE
    pick shuffle-vs-broadcast from runtime stats at real scale.
    """
    hint = F.broadcast if broadcast_index else (lambda df: df)
    exemplars = hint(first_exemplar(index))
    bucket_side = (
        hint(index.groupBy("sha256").agg(F.min("bucket").alias("bucket")))
        if "bucket" in index.columns
        else None
    )
    out = (
        probe.select("image_id", "sha256")
        .join(exemplars, "sha256")
        .filter(F.col("image_id") != F.col("exemplar"))
    )
    if bucket_side is not None:
        out = out.join(bucket_side, "sha256")
    return out


def incremental_new(incoming: DataFrame, sigs: DataFrame) -> DataFrame:
    """Rows not yet indexed — the `up` re-scan only hashes NEW files
    (walkCompare's ErrPathExist skip, dupe.go:941-966). Left-anti join on id.
    """
    return incoming.join(sigs.select("image_id"), "image_id", "left_anti")


def merge_signatures(existing: DataFrame, incoming_sigs: DataFrame) -> DataFrame:
    """Upsert semantics of the KV put (dupe.go:145-149): incoming wins on id.

    Expressed as anti-join + union; on Iceberg this is MERGE INTO.
    """
    keep = existing.join(incoming_sigs.select("image_id"), "image_id", "left_anti")
    return keep.unionByName(incoming_sigs, allowMissingColumns=True)


def clean(sigs: DataFrame, live_ids: DataFrame) -> DataFrame:
    """GC: keep only signature rows whose source row still exists
    (database.go:143-277 / bucket.go:53-94) — left-semi join.
    """
    return sigs.join(live_ids.select("image_id"), "image_id", "left_semi")


def delete_candidates(incoming: DataFrame, index: DataFrame) -> DataFrame:
    """`dupe -delete`: source rows whose digest already exists in the index
    (dupe.go:275-305) — left-semi on digest, excluding rows that ARE the
    indexed exemplar.
    """
    exemplars = first_exemplar(index)
    return (
        incoming.select("image_id", "sha256")
        .join(exemplars, "sha256")
        .filter(F.col("image_id") != F.col("exemplar"))
        .select("image_id", "sha256")
    )


def is_executable_id(id_col: Column | str = "image_id") -> Column:
    """MS-DOS/Windows executable extension test (parse.go:288-295
    isExecutable): case-insensitive .com / .exe on the basename."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.lower(c).rlike(r"\.(com|exe)$")


def top_segment(id_col: Column | str = "image_id") -> Column:
    """First path segment ('' for ids with no '/') — the unit delDirsExcept
    iterates over (os.ReadDir of the source root, dupe.go:344-353)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.when(c.contains("/"), F.substring_index(c, "/", 1)).otherwise(F.lit(""))


def sensen_delete(sigs: DataFrame) -> DataFrame:
    """`dupers dupe -sensen`: rows to DELETE — everything in the source
    except top-level directories containing at least one MS-DOS/Windows
    program ANYWHERE beneath them (dupe.go:314-373 delDirsExcept +
    parse.go:267-295 Executable, a recursive WalkDir that stops at the
    first .com/.exe — no uniqueness condition, extension check only).

    Table model: the kept unit is the top-level source entry (first path
    segment); a top dir is kept iff any row under it is an executable;
    top-level files (no '/') are always removed (dupe.go:349-353). One
    projection + one distinct + one anti-join — no object aggregation,
    and the anti-join key (top segment) is low-cardinality → broadcast.
    """
    with_dir = sigs.select(
        "image_id", "sha256", top_segment("image_id").alias("dir"),
        is_executable_id("image_id").alias("is_exe"),
    )
    keep_dirs = (
        with_dir.filter(F.col("is_exe") & (F.col("dir") != ""))
        .select("dir")
        .distinct()
    )
    return (
        with_dir.join(keep_dirs, "dir", "left_anti")
        .select("image_id", "sha256")
    )


def ls_listing(sigs: DataFrame) -> DataFrame:
    """`dupers ls`: sorted (hex digest, id) dump
    (pkg/cmd/task/bucket/bucket.go:138-175). sha256 is already hex here.
    """
    return sigs.select("sha256", "image_id").orderBy("image_id")


def bucket_info(sigs: DataFrame) -> DataFrame:
    """`dupers db` info: per-bucket item count + approximate stored size
    (database.go:606-666): Σ(len(key) + 32-byte digest).
    """
    return (
        sigs.groupBy("bucket")
        .agg(
            F.count("*").alias("items"),
            F.sum(F.length("image_id") + F.lit(32)).alias("kv_bytes"),
        )
        .orderBy("bucket")
    )
