"""Multimodal (binary-column) operators: decode, feature-extract, resize,
PSNR verification — the training-data-pipeline components over opaque
``binary`` payloads with typed metadata.

All Python work is Arrow-batched ``mapInPandas`` (never per-row UDFs); the
codecs are the pure-stdlib ones in functions/imagecodec.py — PNG/BMP real,
JPEG real, baseline AND progressive (functions/jpegcodec.py);
arithmetic/hierarchical JPEG variants surface as accounted
decode_ok=False rows.

This stage is dupers' "normal mode": re-read every payload and recompute
its signature (pkg/dupe/dupe.go:129-157 re-hashes file content), vs the
"-fast" mode that trusts the stored index (docs/README.md:179-194) — our
pipelines expose the same switch (PipelineConfig.fast).

Audio: WAV decode is REAL for integer PCM (stdlib ``wave``) AND for the
public-math non-PCM tags — IEEE float, G.711 A-law/µ-law, IMA ADPCM
(functions/wavcodec.py fallback); codec-library formats (MP3, AAC, …)
surface as decode_ok=False. Video: RIFF/AVI with uncompressed 24-bit DIB
frames AND MJPG (baseline-JPEG frames, the AVI convention) is REAL too
(functions/videocodec.py — frame sampling, per-frame phash, container
metadata); other codec payloads (H.264, …) surface as decode_ok=False.
Nothing in this module is a stub anymore.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from dupers_spark.functions.imagecodec import (
    average_phash,
    decode_image,
    psnr,
)

FEATURES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("phash", T.LongType(), True),
    T.StructField("w", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), True),
    T.StructField("gray_mean", T.DoubleType(), True),
    T.StructField("gray_std", T.DoubleType(), True),
    T.StructField("decode_ok", T.BooleanType(), False),
])


def image_features(images: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes", fmt_col: str = "fmt") -> DataFrame:
    """Decode every payload, recompute perceptual features from pixels.

    The compute-heavy signature stage (≈1-3 ms/row): column-pruned input is
    only (id, bytes, fmt); Arrow batches are capped by
    spark.sql.execution.arrow.maxRecordsPerBatch so worker memory stays
    bounded regardless of image size.
    """
    src = images.select(
        F.col(id_col).alias("image_id"),
        F.col(bytes_col).alias("bytes"),
        F.col(fmt_col).alias("fmt"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                if data is None or len(data) == 0:
                    rows.append((iid, None, None, None, None, None, False))
                    continue
                try:
                    px = decode_image(bytes(data), fmt)
                except Exception:
                    rows.append((iid, None, None, None, None, None, False))
                    continue
                gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                rows.append((
                    iid, average_phash(px), int(px.shape[1]), int(px.shape[0]),
                    float(gray.mean()), float(gray.std()), True,
                ))
            cols = list(zip(*rows)) if rows else [[]] * 7
            # nullable Int64 from the start: letting pd.DataFrame infer
            # would demote int64+None columns to float64, whose 53-bit
            # mantissa silently corrupts the low bits of phash
            yield pd.DataFrame({
                "image_id": pd.array(cols[0], dtype="string"),
                "phash": pd.array(cols[1], dtype="Int64"),
                "w": pd.array(cols[2], dtype="Int64"),
                "h": pd.array(cols[3], dtype="Int64"),
                "gray_mean": pd.array(cols[4], dtype="Float64"),
                "gray_std": pd.array(cols[5], dtype="Float64"),
                "decode_ok": pd.array(cols[6], dtype="boolean"),
            })

    return src.mapInPandas(extract, schema=FEATURES_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("thumb", T.ArrayType(T.DoubleType()), True),
])


def image_thumbnails(images: DataFrame, size: int = 8,
                     id_col: str = "image_id", bytes_col: str = "bytes",
                     fmt_col: str = "fmt") -> DataFrame:
    """Decode → block-average resize to size×size grayscale → flat array.

    The 'resize / feature-extract' multimodal op (real math, no stub)."""
    src = images.select(
        F.col(id_col).alias("image_id"),
        F.col(bytes_col).alias("bytes"),
        F.col(fmt_col).alias("fmt"),
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for iid, data, fmt in zip(pdf["image_id"], pdf["bytes"], pdf["fmt"]):
                if data is None or len(data) == 0:
                    out.append((iid, None))
                    continue
                try:
                    px = decode_image(bytes(data), fmt)
                except Exception:
                    out.append((iid, None))
                    continue
                gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
                h, w = gray.shape
                ys = (np.arange(size + 1) * h) // size
                xs = (np.arange(size + 1) * w) // size
                thumb = [
                    float(gray[ys[i]:max(ys[i + 1], ys[i] + 1),
                               xs[j]:max(xs[j + 1], xs[j] + 1)].mean())
                    for i in range(size) for j in range(size)
                ]
                out.append((iid, thumb))
            yield pd.DataFrame(out, columns=["image_id", "thumb"])

    return src.mapInPandas(resize, schema=RESIZE_SCHEMA)


PSNR_SCHEMA = T.StructType([
    T.StructField("a", T.StringType(), False),
    T.StructField("b", T.StringType(), False),
    T.StructField("psnr_db", T.DoubleType(), True),
    T.StructField("pixels_comparable", T.BooleanType(), False),
])


def pair_psnr(pairs: DataFrame, images: DataFrame,
              id_col: str = "image_id", bytes_col: str = "bytes",
              fmt_col: str = "fmt") -> DataFrame:
    """Per-pair decoded-pixel PSNR — the BASELINE invariant verifier
    (decoded-pixel allclose / PSNR ≥ 40 dB for lossy).

    Two hash joins fetch both payloads, then one Arrow pass decodes and
    compares. Run on sampled pairs at scale (pairs.sample(f)) — the caller
    picks the fraction.
    """
    payload = images.select(
        F.col(id_col).alias("pid"),
        F.col(bytes_col).alias("pbytes"),
        F.col(fmt_col).alias("pfmt"),
    )
    joined = (
        pairs.select("a", "b")
        .join(payload.withColumnRenamed("pid", "a")
              .withColumnRenamed("pbytes", "bytes_a")
              .withColumnRenamed("pfmt", "fmt_a"), "a")
        .join(payload.withColumnRenamed("pid", "b")
              .withColumnRenamed("pbytes", "bytes_b")
              .withColumnRenamed("pfmt", "fmt_b"), "b")
    )

    def compare(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                try:
                    pa = decode_image(bytes(r.bytes_a), r.fmt_a)
                    pb = decode_image(bytes(r.bytes_b), r.fmt_b)
                except Exception:
                    out.append((r.a, r.b, None, False))
                    continue
                if pa.shape != pb.shape:
                    out.append((r.a, r.b, None, False))
                    continue
                out.append((r.a, r.b, psnr(pa, pb), True))
            yield pd.DataFrame(out, columns=["a", "b", "psnr_db", "pixels_comparable"])

    return joined.mapInPandas(compare, schema=PSNR_SCHEMA)


# ------------------------------------------------- audio (real WAV) / video

AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("duration_s", T.DoubleType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("clipping_rate", T.DoubleType(), True),
    T.StructField("spectral_centroid_hz", T.DoubleType(), True),
    T.StructField("decode_ok", T.BooleanType(), False),
])


def _wav_pcm(data: bytes) -> tuple:
    """Decode one WAV payload → (mono float64 samples, rate, n_channels,
    full_scale, n_frames). Integer PCM goes through stdlib ``wave`` +
    numpy; the non-PCM tags the stdlib rejects but whose math is public —
    IEEE float, G.711 A-law/µ-law, IMA ADPCM — fall back to
    functions/wavcodec.py. Anything else (MP3, AAC, …) raises and callers
    record decode_ok=False."""
    import io
    import wave

    try:
        wf_cm = wave.open(io.BytesIO(data), "rb")
    except wave.Error:
        from dupers_spark.functions.wavcodec import decode_wav_nonpcm

        return decode_wav_nonpcm(data)
    with wf_cm as wf:
        rate, nch, width = wf.getframerate(), wf.getnchannels(), wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if width == 1:  # unsigned 8-bit → center
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
        full = 127.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
        full = 32767.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64)
        full = 2147483647.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)  # mono mix for the features
    return x, rate, nch, full, n_frames


def _wav_features(data: bytes) -> tuple:
    """One WAV-PCM payload → (duration, rate, channels, rms, clipping_rate,
    spectral_centroid)."""
    x, rate, nch, full, n_frames = _wav_pcm(data)
    dur = n_frames / rate if rate else 0.0
    if not len(x):
        return dur, rate, nch, 0.0, 0.0, 0.0
    xn = x / full
    rms = float(np.sqrt(np.mean(xn * xn)))
    clip = float(np.mean(np.abs(xn) >= 0.999))
    spec = np.abs(np.fft.rfft(xn))
    freqs = np.fft.rfftfreq(len(xn), d=1.0 / rate)
    denom = spec.sum()
    centroid = float((freqs * spec).sum() / denom) if denom > 0 else 0.0
    return dur, rate, nch, rms, clip, centroid


def audio_features(media: DataFrame, id_col: str = "media_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Audio feature extraction over binary payloads — REAL for WAV-PCM
    (stdlib ``wave``; duration, RMS, clipping rate, spectral centroid via
    rfft), decode_ok=False for anything needing codecs absent from this
    container. Same Arrow-batched mapInPandas shape as image_features."""
    src = media.select(F.col(id_col).alias("media_id"),
                       F.col(bytes_col).alias("bytes"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["bytes"]):
                if data is None or len(data) == 0:
                    rows.append((mid, None, None, None, None, None, None, False))
                    continue
                try:
                    d, r, c, rms, clip, cent = _wav_features(bytes(data))
                except Exception:
                    rows.append((mid, None, None, None, None, None, None, False))
                    continue
                rows.append((mid, d, r, c, rms, clip, cent, True))
            cols = list(zip(*rows)) if rows else [[]] * 8
            yield pd.DataFrame({
                "media_id": pd.array(cols[0], dtype="string"),
                "duration_s": pd.array(cols[1], dtype="Float64"),
                "sample_rate": pd.array(cols[2], dtype="Int64"),
                "n_channels": pd.array(cols[3], dtype="Int64"),
                "rms": pd.array(cols[4], dtype="Float64"),
                "clipping_rate": pd.array(cols[5], dtype="Float64"),
                "spectral_centroid_hz": pd.array(cols[6], dtype="Float64"),
                "decode_ok": pd.array(cols[7], dtype="boolean"),
            })

    return src.mapInPandas(extract, schema=AUDIO_FEATURES_SCHEMA)


VIDEO_FRAMES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("frame_no", T.IntegerType(), True),
    T.StructField("ts_s", T.DoubleType(), True),
    T.StructField("frame_png", T.BinaryType(), True),
    T.StructField("decode_ok", T.BooleanType(), False),
])


def sample_video_frames(media: DataFrame, every_n: int = 30,
                        id_col: str = "media_id",
                        bytes_col: str = "bytes") -> DataFrame:
    """Video frame sampling — REAL for RIFF/AVI with uncompressed 24-bit
    DIB frames (functions/videocodec.py): frames 0, every_n, 2·every_n, …
    are decoded (skipped chunks cost a header read, not a pixel decode)
    and re-encoded as PNG rows. Payloads needing codec libraries surface
    as ONE decode_ok=False row per video — accounted, never dropped.

    Arrow-batched mapInPandas, one output row per sampled frame: the fan-
    out (rows ≈ Σ n_frames/every_n) happens executor-side, so a 100 TB
    video corpus becomes a frames table without any driver involvement.
    """
    from dupers_spark.functions.imagecodec import encode_png
    from dupers_spark.functions.videocodec import iter_avi_frames, probe_avi

    src = media.select(F.col(id_col).alias("media_id"),
                       F.col(bytes_col).alias("bytes"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, fnos, tss, pngs, oks = [], [], [], [], []
            for mid, data in zip(pdf["media_id"], pdf["bytes"]):
                try:
                    meta = probe_avi(bytes(data or b""))
                    fps = meta["fps"] or 30.0
                    for fno, px in iter_avi_frames(bytes(data), every_n):
                        mids.append(mid)
                        fnos.append(fno)
                        tss.append(fno / fps)
                        pngs.append(encode_png(px))
                        oks.append(True)
                except Exception:
                    mids.append(mid)
                    fnos.append(None)
                    tss.append(None)
                    pngs.append(None)
                    oks.append(False)
            yield pd.DataFrame({
                "media_id": pd.array(mids, dtype="string"),
                "frame_no": pd.array(fnos, dtype="Int32"),
                "ts_s": pd.array(tss, dtype="Float64"),
                "frame_png": pngs,
                "decode_ok": pd.array(oks, dtype="boolean"),
            })

    return src.mapInPandas(extract, schema=VIDEO_FRAMES_SCHEMA)


VIDEO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType(), False),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("fps", T.DoubleType(), True),
    T.StructField("duration_s", T.DoubleType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("frame_phashes", T.ArrayType(T.LongType()), True),
    T.StructField("decode_ok", T.BooleanType(), False),
])


def video_features(media: DataFrame, every_n: int = 30,
                   id_col: str = "media_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Per-video container metadata + the sampled frame-phash SEQUENCE —
    the video analogue of image_features, and the signature the video
    near-dup engine (operators/video.py) builds on: two videos sharing
    most sampled-frame phashes (trimmed/re-muxed/shifted copies) are
    near-duplicates. One row per video, decode_ok=False accounting for
    codec-compressed payloads."""
    from dupers_spark.functions.imagecodec import average_phash as aph
    from dupers_spark.functions.videocodec import iter_avi_frames, probe_avi

    src = media.select(F.col(id_col).alias("media_id"),
                       F.col(bytes_col).alias("bytes"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, data in zip(pdf["media_id"], pdf["bytes"]):
                try:
                    b = bytes(data or b"")
                    meta = probe_avi(b)
                    fps = meta["fps"]
                    hashes = [aph(px)  # already signed-int64 (LongType)
                              for _, px in iter_avi_frames(b, every_n)]
                    dur = meta["n_frames"] / fps if fps else None
                    rows.append((mid, meta["n_frames"], fps, dur,
                                 meta["width"], meta["height"], hashes, True))
                except Exception:
                    rows.append((mid, None, None, None, None, None, None,
                                 False))
            cols = list(zip(*rows)) if rows else [[]] * 8
            yield pd.DataFrame({
                "media_id": pd.array(cols[0], dtype="string"),
                "n_frames": pd.array(cols[1], dtype="Int32"),
                "fps": pd.array(cols[2], dtype="Float64"),
                "duration_s": pd.array(cols[3], dtype="Float64"),
                "width": pd.array(cols[4], dtype="Int32"),
                "height": pd.array(cols[5], dtype="Int32"),
                "frame_phashes": cols[6],
                "decode_ok": pd.array(cols[7], dtype="boolean"),
            })

    return src.mapInPandas(extract, schema=VIDEO_FEATURES_SCHEMA)
