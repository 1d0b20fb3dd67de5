"""Deterministic synthetic `images` table (BASELINE input_hint schema) with
planted ground-truth duplicate structure (FIXTURES.md §A).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
         caption string, phash long) + bucket string partition column.

Layout is arithmetic on the row index i (g = i // 10, r = i % 10), so the
ground truth is computable in closed form and generation is embarrassingly
parallel (mapInPandas over spark.range) and independent of partitioning:

  r=0  base image A_g, base caption C_g
  r=1  EXACT byte copy of r=0                (exact engine)
  r=2  re-encode of A_g's pixels (other fmt) (phash/simhash engine; caption =C_g)
  r=3  fresh pixels, caption = C_g w/ 1 word swapped   (MinHash near-dup)
  r=4  fresh pixels, caption = r3's caption w/ another swap (transitive chain)
  r=5  fresh pixels, DEGENERATE flood caption (skew exercise, ~10% of rows)
  r=6  noisy copy of A_g's pixels (±2) — phash near-dup; fresh caption
  r=7..9 singletons
  i=7 globally: zero-byte payload row (indexed under sha256(''), matching
  the reference: parse.Read hashes empty files; dupe.go:142-144 only rejects
  an all-zero checksum)

Caption space: 12 words from a 64-word vocabulary; one swap ⇒ word-3-shingle
Jaccard ≈ 7/13 ≈ 0.54; two swaps ⇒ ≈ 0.25 (below τ=0.5 ⇒ chain only).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dupers_spark.functions.imagecodec import average_phash, encode_image

SEED = 42
# bump when generated BYTES change (codec or layout): benches key their
# /tmp parquet caches on this so a code change can never silently reuse a
# stale fixture (v2: real baseline JPEG for fmt=jpg; MJPG video groups)
FIXTURE_VERSION = 2
VOCAB = [
    "spark", "table", "scan", "join", "filter", "group", "sort", "merge",
    "hash", "key", "row", "column", "query", "order", "window", "batch",
    "stream", "value", "data", "fast", "slow", "small", "large", "agg",
    "part", "line", "customer", "vector", "index", "cache", "shard", "block",
    "red", "green", "blue", "amber", "cyan", "violet", "coral", "olive",
    "tiger", "eagle", "otter", "lynx", "heron", "viper", "crane", "moose",
    "river", "cliff", "dune", "marsh", "ridge", "basin", "grove", "steppe",
    "quiet", "brisk", "vivid", "stark", "muted", "crisp", "dense", "sparse",
]
FLOOD_CAPTION = " ".join(["the"] * 12)
CAPTION_LEN = 12

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("fmt", T.StringType(), True),
    T.StructField("caption", T.StringType(), True),
    T.StructField("phash", T.LongType(), True),
    T.StructField("bucket", T.StringType(), True),
])


def _image_id(i: int) -> str:
    return f"img_{i:08d}"


def _base_pixels(g: int) -> np.ndarray:
    rng = np.random.default_rng(SEED * 1_000_003 + g)
    h, w = int(rng.integers(8, 17)), int(rng.integers(8, 17))
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _fresh_pixels(i: int) -> np.ndarray:
    rng = np.random.default_rng(SEED * 2_000_003 + i)
    h, w = int(rng.integers(8, 17)), int(rng.integers(8, 17))
    return rng.integers(0, 256, (h, w, 3), dtype=np.uint8)


def _caption_words(g: int) -> list[str]:
    rng = np.random.default_rng(SEED * 3_000_017 + g)
    return [VOCAB[j] for j in rng.integers(0, len(VOCAB), CAPTION_LEN)]


def _swap_word(words: list[str], g: int, which: int) -> list[str]:
    """Deterministically replace one word (positions spread apart per swap)."""
    rng = np.random.default_rng(SEED * 5_000_011 + g * 7 + which)
    pos = (int(rng.integers(0, CAPTION_LEN // 2)) + which * (CAPTION_LEN // 2)) % CAPTION_LEN
    out = list(words)
    cur = out[pos]
    repl = VOCAB[int(rng.integers(0, len(VOCAB)))]
    if repl == cur:
        repl = VOCAB[(VOCAB.index(cur) + 1) % len(VOCAB)]
    out[pos] = repl
    return out


_FMTS = ["png", "bmp", "jpg"]


def _row(i: int) -> dict:
    g, r = divmod(i, 10)
    base_fmt = _FMTS[g % 3]
    if r == 0:
        px, caption, fmt = _base_pixels(g), " ".join(_caption_words(g)), base_fmt
    elif r == 1:
        px, caption, fmt = _base_pixels(g), " ".join(_caption_words(g)), base_fmt
    elif r == 2:
        px, caption = _base_pixels(g), " ".join(_caption_words(g))
        fmt = _FMTS[(g + 1) % 3]
        if fmt == "jpg" and base_fmt == "jpg":  # unreachable, kept for clarity
            fmt = "png"
    elif r == 3:
        px, fmt = _fresh_pixels(i), _FMTS[i % 3]
        caption = " ".join(_swap_word(_caption_words(g), g, 0))
    elif r == 4:
        px, fmt = _fresh_pixels(i), _FMTS[i % 3]
        caption = " ".join(_swap_word(_swap_word(_caption_words(g), g, 0), g, 1))
    elif r == 5:
        px, fmt, caption = _fresh_pixels(i), _FMTS[i % 3], FLOOD_CAPTION
    elif r == 6:
        rng = np.random.default_rng(SEED * 7_000_003 + i)
        base = _base_pixels(g).astype(np.int16)
        noise = rng.integers(-2, 3, base.shape, dtype=np.int16)
        px = (base + noise).clip(0, 255).astype(np.uint8)
        fmt = base_fmt
        caption = " ".join(_fresh_caption(i))
    else:
        px, fmt = _fresh_pixels(i), _FMTS[i % 3]
        caption = " ".join(_fresh_caption(i))

    data = encode_image(px, fmt)
    ph = average_phash(px)
    if i == 7:  # the planted zero-byte row (still indexed, see module doc)
        data = b""
    return {
        "image_id": _image_id(i),
        "bytes": data,
        "w": int(px.shape[1]),
        "h": int(px.shape[0]),
        "fmt": fmt,
        "caption": caption,
        "phash": ph,
        "bucket": f"bucket{i % 3}",
    }


def _fresh_caption(i: int) -> list[str]:
    rng = np.random.default_rng(SEED * 11_000_027 + i)
    return [VOCAB[j] for j in rng.integers(0, len(VOCAB), CAPTION_LEN)]


def make_images(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas.

    Content depends only on the row index, never on partitioning, so any
    parallelism level produces byte-identical tables (required for the
    two-parallelism scaling bench to double as a correctness check).
    """
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


# ------------------------------------------------------------- ground truth

def truth_exact_pairs(n: int) -> list[tuple[str, str]]:
    """Pairs with byte-identical payloads: (r0, r1) per full group.

    The zero-byte row i=7 is indexed (sha256('')) but is the only empty
    payload, so it contributes no pair; i=7 is r=7 so it never collides with
    the planted r0/r1 pairs anyway.
    """
    out = []
    for g in range(n // 10):
        a, b = g * 10, g * 10 + 1
        if b < n:
            out.append((_image_id(a), _image_id(b)))
    return out


def truth_caption_components(n: int) -> dict[str, int]:
    """Expected caption-space component per image id at τ=0.5 word-3-shingle
    Jaccard: {r0,r1,r2,r3,r4} per group (r3/r4 attach via the chain), plus one
    global flood component of all r5 rows. Singletons omitted.
    """
    comp: dict[str, int] = {}
    for g in range(n // 10):
        for r in range(5):
            i = g * 10 + r
            if i < n:
                comp[_image_id(i)] = g
    flood = 10**9
    for g in range(n // 10):
        i = g * 10 + 5
        if i < n:
            comp[_image_id(i)] = flood
    return comp


def zero_byte_ids(n: int) -> list[str]:
    return [_image_id(7)] if n > 7 else []


# ------------------------------------------------------------- archives

def _member_blob(k: int) -> bytes:
    """Deterministic member content; k is a global member index."""
    return (f"member-content-{k:06d} " * 4 + "\n").encode()


def make_archives(spark: SparkSession, n_archives: int = 12,
                  members_per: int = 5) -> DataFrame:
    """(image_id, bytes) rows whose payloads ARE archives — zip / tar /
    tar.gz round-robin — with planted cross-archive duplicate members:

      * member 0 of every archive has IDENTICAL bytes (global dup group)
      * member 1 of archive a equals member 1 of archive a+1 when a is even
        (pairwise dup)
      * remaining members are unique
      * the LAST archive is corrupt (truncated zip) → error-row fixture

    Mirrors the reference's archive fixtures
    (pkg/dupe/internal/archive/archive_test.go:373-408).
    """
    import io
    import tarfile
    import zipfile

    def build(a: int) -> bytes:
        members = []
        for j in range(members_per):
            if j == 0:
                blob = b"shared-across-all-archives\n"
            elif j == 1:
                blob = _member_blob(1_000_000 + (a // 2))
            else:
                blob = _member_blob(a * members_per + j)
            members.append((f"dir{j % 2}/m_{j}.txt", blob))
        kind = a % 3
        buf = io.BytesIO()
        if kind == 0:
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                for name, blob in members:
                    zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                    zf.writestr(zi, blob)
        else:
            mode = "w:" if kind == 1 else "w:gz"
            with tarfile.open(fileobj=buf, mode=mode) as tf:
                for name, blob in members:
                    ti = tarfile.TarInfo(name)
                    ti.size = len(blob)
                    ti.mtime = 0
                    tf.addfile(ti, io.BytesIO(blob))
        return buf.getvalue()

    rows = []
    for a in range(n_archives):
        data = build(a)
        if a == n_archives - 1:
            data = b"PK\x03\x04" + data[4:40]  # truncated zip → corrupt
        rows.append((f"arch_{a:04d}.{['zip', 'tar', 'tar.gz'][a % 3]}", data))
    return spark.createDataFrame(rows, "image_id string, bytes binary")


def zip_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, source, text) → one deterministic zip per source:
    members 'doc_<id>.txt' (sorted by id) containing the utf-8 text.

    Oracle-friendly: member digests equal sha256(text), which DuckDB can
    compute directly — giving the archive-scan operator a value oracle.
    """
    import io
    import zipfile

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                zi = zipfile.ZipInfo(f"doc_{int(did)}.txt",
                                     date_time=(1980, 1, 1, 0, 0, 0))
                zf.writestr(zi, (text or "").encode("utf-8"))
        return pd.DataFrame({"archive_id": [str(pdf["source"].iloc[0])],
                             "bytes": [buf.getvalue()]})

    return docs.select("doc_id", "source", "text").groupBy("source").applyInPandas(
        build, schema="archive_id string, bytes binary"
    )

def sevenz_documents(docs: DataFrame, compress: bool = True,
                     encoded_header: bool = True) -> DataFrame:
    """documents(doc_id, source, text) → one deterministic 7z per source
    (LZMA2, encoded header by default — the layout modern 7-Zip emits).

    Same member naming and digest contract as :func:`zip_documents`, so the
    same DuckDB oracle (sha256(text) per member) value-checks the 7z
    encoded-header + folder-chain decode path end-to-end.
    """
    from dupers_spark.functions.sevenzip import write_7z

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [(f"doc_{int(did)}.txt", (text or "").encode("utf-8"))
                   for did, text in zip(pdf["doc_id"], pdf["text"])]
        blob = write_7z(members, compress=compress,
                        encoded_header=encoded_header)
        return pd.DataFrame({"archive_id": [str(pdf["source"].iloc[0]) + ".7z"],
                             "bytes": [blob]})

    return docs.select("doc_id", "source", "text").groupBy("source").applyInPandas(
        build, schema="archive_id string, bytes binary"
    )



# ---------------------------------------------------------------- videos

VIDEOS_SCHEMA = ("media_id string, bytes binary, n_frames int, fmt string")


def _video_frame(g: int, j: int, w: int = 48, h: int = 32) -> np.ndarray:
    """Deterministic coarse-block frame for video group g, frame j —
    block structure keeps the 8×8 average-phash distinct per (g, j)."""
    rng = np.random.default_rng(SEED * 13_000_021 + g * 1009 + j)
    block = rng.integers(0, 256, (h // 8, w // 8, 3), dtype=np.uint8)
    return np.repeat(np.repeat(block, 8, axis=0), 8, axis=1)


def _video_row(i: int, n_frames: int) -> dict:
    """g = i // 10, r = i % 10 (FIXTURES.md §A convention):

      r=0  base video V_g
      r=1  EXACT byte copy of r=0       (collapses structurally in LSH)
      r=2  trimmed copy (first 2 frames dropped) — frame-shingle near-dup
           (shares (n_frames-3)/(n_frames-1) 2-shingles ⇒ J ≈ 0.8 ≥ τ)
      r=3..9 fresh singleton videos

    Ground-truth clusters per full group: {r0, r1, r2} + 7 singletons.

    Every third group is Motion-JPEG instead of uncompressed DIB — codec
    choice is per GROUP, so decoded frames stay identical within a group
    (deterministic codec) and the closed-form truth is codec-independent
    while the MJPG decode path is exercised end-to-end.
    """
    from dupers_spark.functions.videocodec import encode_avi

    g, r = divmod(i, 10)
    if r in (0, 1):
        frames = [_video_frame(g, j) for j in range(n_frames)]
    elif r == 2:
        frames = [_video_frame(g, j) for j in range(2, n_frames)]
    else:
        frames = [_video_frame(1_000_000_007 + i, j) for j in range(n_frames)]
    codec = "MJPG" if g % 3 == 2 else "DIB"
    return {
        "media_id": f"vid_{i:08d}",
        "bytes": encode_avi(frames, fps=10, codec=codec),
        "n_frames": len(frames),
        "fmt": "avi",
    }


def make_videos(spark: SparkSession, n: int, n_frames: int = 12,
                partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic `videos` table with planted duplicate
    structure — the video analogue of make_images: content depends only on
    the row index, so every parallelism level generates byte-identical
    tables (scaling bench doubles as a correctness check)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([_video_row(int(i), n_frames)
                                for i in pdf["id"]])

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, schema=VIDEOS_SCHEMA)


def truth_video_clusters(n: int) -> int:
    """Expected cluster count for make_videos(n), n % 10 == 0: one
    {r0, r1, r2} cluster + 7 singletons per group."""
    if n % 10:
        raise ValueError("closed-form truth needs n divisible by 10")
    return (n // 10) * 8


# ---------------------------------------------------------------- audio

AUDIO_SCHEMA = "media_id string, bytes binary, n_samples int, fmt string"
_AUDIO_WIN = 1024
_AUDIO_RATE = 8000


def _audio_window(g: int, j: int) -> np.ndarray:
    """Deterministic two-tone window for audio group g, window j —
    EVEN int16 samples so an exact half-gain copy exists (s // 2 is
    lossless), making gain-invariance of the fingerprint provable rather
    than approximate."""
    rng = np.random.default_rng(SEED * 17_000_023 + g * 1013 + j)
    f1, f2 = rng.uniform(200.0, 3600.0, 2)
    t = np.arange(_AUDIO_WIN) / _AUDIO_RATE
    v = 9000.0 * np.sin(2 * np.pi * f1 * t) + 5000.0 * np.sin(2 * np.pi * f2 * t)
    return (2 * np.round(v / 2.0)).astype("<i2")


def _audio_wav(samples: np.ndarray) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(_AUDIO_RATE)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


def _audio_row(i: int, n_windows: int) -> dict:
    """g = i // 10, r = i % 10 (FIXTURES.md §A convention):

      r=0  base clip A_g (per-window two-tone bursts, non-stationary)
      r=1  EXACT HALF-GAIN copy of r=0 — byte-different, but the
           band-energy-comparison fingerprint is gain-invariant, so its
           token string is identical and it collapses structurally
      r=2  trimmed copy (first 2 windows dropped, window-aligned) —
           shares 13/15 token 2-shingles ⇒ J ≈ 0.87 ≥ τ
      r=3..9 fresh singleton clips

    Ground-truth clusters per full group: {r0, r1, r2} + 7 singletons.
    """
    g, r = divmod(i, 10)
    if r in (0, 1):
        s = np.concatenate([_audio_window(g, j) for j in range(n_windows)])
        if r == 1:
            s = (s // 2).astype("<i2")  # exact: base samples are even
    elif r == 2:
        s = np.concatenate([_audio_window(g, j)
                            for j in range(2, n_windows)])
    else:
        s = np.concatenate([_audio_window(1_000_000_009 + i, j)
                            for j in range(n_windows)])
    return {
        "media_id": f"aud_{i:08d}",
        "bytes": _audio_wav(s),
        "n_samples": int(len(s)),
        "fmt": "wav",
    }


def make_audio(spark: SparkSession, n: int, n_windows: int = 16,
               partitions: int | None = None) -> DataFrame:
    """Deterministic synthetic `audio` table with planted duplicate
    structure — the audio analogue of make_images/make_videos: content
    depends only on the row index, so every parallelism level generates
    byte-identical tables."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([_audio_row(int(i), n_windows)
                                for i in pdf["id"]])

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, schema=AUDIO_SCHEMA)
