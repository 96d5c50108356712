"""Multimodal (image/audio/video) column operators.

Payloads are opaque `binary` columns with typed metadata, processed
via Arrow-batched mapInPandas. The sandbox has no media libraries, so
the *codec* steps are the in-tree implementations (overmatch_spark.
images: raw/qlossy numpy codec, REAL png via kernels/png.py, REAL
baseline jpeg via kernels/jpeg.py, REAL ISO-BMFF MP4 demux + MJPEG
via kernels/mp4.py, REAL RIFF/WAVE PCM) or clearly-marked stubs
raising NotImplementedError (webp, H.264/VP9, mp3/opus) — and the
Spark-side plumbing
(schemas, batch iteration, payload-projection discipline) is real and
tested for all of them.

Scale discipline (the part that matters at 10^12 rows): binary
payloads NEVER enter a shuffle — every operator here is a
scan-side map (mapInPandas, no wide dependency), and anything that
joins or aggregates first projects the payload out and re-attaches by
id (operators.conflate.attach_payload).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from overmatch_spark.images import decode, encode

FEATURE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("std_gray", DoubleType()),
        StructField("aspect", DoubleType()),
    ]
)

RESIZE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("video_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
    ]
)

AUDIO_SCHEMA = StructType(
    [
        StructField("audio_id", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("rms", DoubleType()),
        StructField("zcr", DoubleType()),
        StructField("spectral_centroid_hz", DoubleType()),
        StructField("peak", DoubleType()),
    ]
)


def extract_features(images: DataFrame) -> DataFrame:
    """Decode + per-image features (channel means, gray std, aspect).
    One Arrow batch in, one out; zero per-row Python outside numpy.
    Feature floats are rounded to 1e-9 (the repo's engine-portability
    convention, same as dedup.cosine): numpy strided reductions can
    differ in the last ulp across processes/buffer alignments, and
    rounding makes the output independent of where it was computed."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = {k.name: [] for k in FEATURE_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                px = decode(r.bytes, r.w, r.h, r.fmt).astype(np.float64)
                rows["image_id"].append(r.image_id)
                rows["mean_r"].append(round(float(px[:, :, 0].mean()), 9))
                rows["mean_g"].append(round(float(px[:, :, 1].mean()), 9))
                rows["mean_b"].append(round(float(px[:, :, 2].mean()), 9))
                rows["std_gray"].append(round(float(px.mean(axis=2).std()), 9))
                rows["aspect"].append(float(r.w) / float(r.h))
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen, FEATURE_SCHEMA
    )


def phash_near_dups(
    images: DataFrame,
    phash_col: str = "phash",
    id_col: str = "image_id",
    k: int = 3,
) -> DataFrame:
    """Image near-dup pairs by perceptual-hash hamming distance <= k —
    EXACT via the shared pigeonhole blocking (dedup.hamming_pairs,
    64-bit signatures, k+1 blocks). The input table's phash int64
    column (BASELINE.json input_hint) is the signature; image BYTES
    never enter the join — only (block, 8-byte sig, id) rides the
    shuffle, the core multimodal-dedup discipline at 10^12 images.
    Returns (id_a, id_b, hamming)."""
    from pyspark.sql import functions as F

    from overmatch_spark.operators.dedup import hamming_pairs

    sig = images.select(
        F.col(id_col).alias("doc_id"), F.col(phash_col).alias("sig")
    )
    return hamming_pairs(sig, k=k, bits=64)


PHASH_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("phash_dct", LongType()),
    ]
)


def compute_phash(images: DataFrame) -> DataFrame:
    """REAL content-based perceptual hash (classic pHash: grayscale ->
    32x32 bilinear -> 2D DCT -> low-freq 8x8 -> median threshold ->
    64 bits; kernels/phash.py) computed scan-side over the binary
    column via Arrow-batched mapInPandas. Near-identical content
    (jpeg/qlossy re-encodes of the same pixels) lands a few bits
    apart, unrelated content ~32 — so the output column feeds
    phash_near_dups/hamming_pairs directly for exact hamming<=k
    retrieval by what the image LOOKS like, not by its id.

    Returns (image_id, phash_dct int64). Bytes never leave the scan."""
    import pandas as pd

    from overmatch_spark.kernels.phash import phash64

    def gen(batches):
        for pdf in batches:
            out = {"image_id": [], "phash_dct": []}
            for r in pdf.itertuples(index=False):
                px = decode(r.bytes, r.w, r.h, r.fmt)
                out["image_id"].append(r.image_id)
                out["phash_dct"].append(phash64(px))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen, PHASH_SCHEMA
    )


def dedup_images_by_content(
    images: DataFrame,
    k: int = 3,
    id_col: str = "image_id",
    score_col: str | None = None,
) -> DataFrame:
    """One-call corpus-level image dedup BY CONTENT — the image
    analogue of dedup.dedup_corpus: compute_phash (scan-side DCT
    perceptual hash) -> exact hamming<=k pairs (pigeonhole blocking)
    -> connected components -> one survivor per cluster (min-id, or
    keep-best via `score_col`) -> the SURVIVING ROWS of `images`,
    all columns intact.

    Catches what exact byte-dedup cannot: the same picture re-encoded
    (jpeg at another quality, 4:2:0, png), brightness-shifted, or
    requantized. Scale discipline end-to-end: pixels are decoded once
    at the scan; only (image_id, 8-byte hash) enters the pair join;
    the survivor semi-join carries ids only — payload bytes NEVER
    ride a shuffle, the non-negotiable at 10^12 images."""
    from pyspark.sql import functions as F

    from overmatch_spark.operators.dedup import _survivors, hamming_pairs

    sig = compute_phash(images).select(
        F.col("image_id").alias("doc_id"), F.col("phash_dct").alias("sig")
    )
    pairs = hamming_pairs(sig, k=k, bits=64)
    return _survivors(images, pairs, id_col, score_col)


def resize_nearest(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (numpy index sampling); output re-encoded
    with the same fmt. A real bilinear/Lanczos would replace the
    sampling line only."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in RESIZE_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                px = decode(r.bytes, r.w, r.h, r.fmt)
                yi = (np.arange(out_h) * r.h // out_h).astype(np.int64)
                xi = (np.arange(out_w) * r.w // out_w).astype(np.int64)
                rs = px[yi][:, xi]
                out["image_id"].append(r.image_id)
                out["bytes"].append(encode(rs, r.fmt))
                out["w"].append(out_w)
                out["h"].append(out_h)
                out["fmt"].append(r.fmt)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        gen, RESIZE_SCHEMA
    )


def sample_frames(videos: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling: one output row per sampled frame, each a
    raw RGB image payload ready for extract_features/resize_nearest.
    The container demux (table parse + constant-time frame seek —
    untouched frames are never read, and for mp4 never DECODED) is
    real for BOTH supported containers: the deterministic RAWV fake
    container and real ISO-BMFF MP4 with Motion-JPEG samples
    (kernels/mp4.py demux + kernels/jpeg.py decode — no external
    libs). webm/H.264 sample decode raises a clearly-marked
    NotImplementedError inside VideoReader."""
    from overmatch_spark.images import VideoReader

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in FRAME_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                v = VideoReader(r.bytes)  # ONE table parse per video
                for idx in range(0, v.n_frames, every_n):
                    out["video_id"].append(r.video_id)
                    out["frame_idx"].append(idx)
                    out["bytes"].append(v.frame_rgb(idx))
                    out["w"].append(int(v.w))
                    out["h"].append(int(v.h))
            yield pd.DataFrame(out)

    return videos.select(
        videos["video_id"], videos["bytes"]
    ).mapInPandas(gen, FRAME_SCHEMA)


def audio_features(audio: DataFrame) -> DataFrame:
    """Audio feature extraction over int16 PCM (RAWA fake container):
    RMS, zero-crossing rate, FFT spectral centroid, peak — genuine
    numpy DSP; only the compressed-codec decode (mp3/opus) is the
    clearly-marked stub inside images.decode_audio."""
    from overmatch_spark.images import decode_audio

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {k.name: [] for k in AUDIO_SCHEMA.fields}
            for r in pdf.itertuples(index=False):
                rate, pcm = decode_audio(r.bytes)
                x = pcm.astype(np.float64) / 32768.0
                rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
                zcr = (
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if x.size > 1
                    else 0.0
                )
                if x.size:
                    mag = np.abs(np.fft.rfft(x))
                    freqs = np.fft.rfftfreq(x.size, d=1.0 / rate)
                    tot = float(mag.sum())
                    centroid = float((freqs * mag).sum() / tot) if tot > 0 else 0.0
                    peak = float(np.abs(x).max())
                else:
                    centroid, peak = 0.0, 0.0
                out["audio_id"].append(r.audio_id)
                out["sample_rate"].append(int(rate))
                out["rms"].append(rms)
                out["zcr"].append(zcr)
                out["spectral_centroid_hz"].append(centroid)
                out["peak"].append(peak)
            yield pd.DataFrame(out)

    return audio.select(audio["audio_id"], audio["bytes"]).mapInPandas(
        gen, AUDIO_SCHEMA
    )
