"""Image payload codec + per-row invariants (BASELINE.json input_hint).

The input table carries image payloads as opaque ``binary``:
  images(image_id string, bytes binary, w int, h int, fmt string,
         caption string, phash int64)

No image libraries exist in this sandbox (no Pillow), so the codecs
are implemented here (FIXTURES.md §1):
  - ``raw``     row-major h*w*3 uint8, exact.
  - ``qlossy``  uniform quantization with step q=4 (values (p//4)*4+2,
                max abs error 2 -> PSNR >= 20*log10(255/2) ~ 42.1 dB).
  - ``png``     REAL lossless PNG (stdlib zlib DEFLATE) — kernels/png.py.
  - ``jpeg``    REAL baseline JFIF (8x8 DCT + Annex-K quant/Huffman,
                pure numpy) — kernels/jpeg.py. Encoded at quality 98
                so even the seeded-noise fixtures (the DCT worst
                case) clear the 40 dB sink invariant.
  - ``webp``    REAL lossless WebP (VP8L bitstream: canonical prefix
                codes + LZ77 back-refs, pure numpy) — kernels/vp8l.py.

Only LOSSY WebP (VP8 intra prediction + boolean arithmetic coding)
remains stubbed. The Spark-side plumbing (binary column, Arrow
batches via mapInPandas, payload kept out of shuffles) is identical
for all formats.

Video/audio containers are real too: ISO-BMFF MP4 with Motion-JPEG
samples (kernels/mp4.py demux/mux + the in-tree JPEG codec) and
RIFF/WAVE 16-bit PCM, alongside the deterministic RAWV/RAWA fakes.
Compressed A/V codecs (H.264/VP9/mp3/opus) stay clearly-marked stubs.

Per-row invariant at every sink (north rule): decoded pixels allclose
vs the original (PSNR >= 40 dB for lossy) AND caption equality.
"""

from __future__ import annotations

import numpy as np

QLOSSY_STEP = 4


def fnv64(s: str) -> int:
    """64-bit FNV-1a of a string -> signed int64 (the `phash`)."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h - (1 << 64) if h >= (1 << 63) else h


def gen_pixels(image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic RGB pixels for an id (seeded PCG64)."""
    seed = fnv64(image_id) & 0xFFFFFFFFFFFFFFFF
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return pixels.tobytes()
    if fmt == "qlossy":
        q = QLOSSY_STEP
        return ((pixels // q) * q + q // 2).astype(np.uint8).tobytes()
    if fmt == "png":
        # REAL lossless codec, not a stub: PNG's only compression is
        # DEFLATE (stdlib zlib) — see kernels/png.py
        from overmatch_spark.kernels.png import png_encode_rgb

        return png_encode_rgb(pixels)
    if fmt == "jpeg":
        # REAL DCT codec, not a stub: baseline JFIF (Annex-K tables,
        # 8x8 DCT, canonical Huffman) in pure numpy — kernels/jpeg.py.
        # Quality 98 because the fixture corpus is seeded noise (the
        # DCT worst case) and the sink invariant is PSNR >= 40 dB.
        from overmatch_spark.kernels.jpeg import jpeg_encode_rgb

        return jpeg_encode_rgb(pixels, quality=98)
    if fmt == "webp":
        # REAL lossless codec, not a stub: VP8L prefix-coded literals
        # + run back-references in pure numpy — kernels/vp8l.py
        from overmatch_spark.kernels.vp8l import vp8l_encode_rgb

        return vp8l_encode_rgb(pixels)
    raise NotImplementedError(
        f"fmt={fmt!r}: lossy-VP8 webp stays stubbed in this sandbox; "
        "'raw', 'qlossy', real 'png', real baseline 'jpeg' and real "
        "lossless 'webp' (VP8L) are implemented"
    )


def decode(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    if fmt in ("raw", "qlossy"):
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "png":
        from overmatch_spark.kernels.png import png_decode_rgb

        px = png_decode_rgb(buf)
        if px.shape != (h, w, 3):
            raise ValueError(f"png dims {px.shape} != metadata ({h},{w},3)")
        return px
    if fmt == "jpeg":
        from overmatch_spark.kernels.jpeg import jpeg_decode_rgb

        px = jpeg_decode_rgb(buf)
        if px.shape != (h, w, 3):
            raise ValueError(f"jpeg dims {px.shape} != metadata ({h},{w},3)")
        return px
    if fmt == "webp":
        from overmatch_spark.kernels.vp8l import vp8l_decode_rgb

        px = vp8l_decode_rgb(buf)
        if px.shape != (h, w, 3):
            raise ValueError(f"webp dims {px.shape} != metadata ({h},{w},3)")
        return px
    raise NotImplementedError(f"fmt={fmt!r} not decodable in sandbox")


# ---------------------------------------------------------------------------
# Fake media containers (no codec libs in sandbox; the container
# parsing/seek math below is real demuxer logic — a real decoder slots
# into the frame/sample decode line only)
# ---------------------------------------------------------------------------

VIDEO_MAGIC = b"RAWV"  # header: magic + <IIII w h n_frames fps>, raw RGB frames
AUDIO_MAGIC = b"RAWA"  # header: magic + <II sample_rate n_samples>, int16 PCM
_V_HEAD = 4 + 16
_A_HEAD = 4 + 8


def encode_video(frames: list[np.ndarray], fps: int = 30) -> bytes:
    import struct

    h, w, _ = frames[0].shape
    head = VIDEO_MAGIC + struct.pack("<IIII", w, h, len(frames), fps)
    return head + b"".join(np.ascontiguousarray(f).tobytes() for f in frames)


def video_header(buf: bytes):
    """(w, h, n_frames, fps). Real containers: RAWV (fake, raw RGB
    frames) and MP4/ISO-BMFF (real demux, kernels/mp4.py — Motion-JPEG
    samples decode with the in-tree JPEG codec). webm/H.264 sample
    decode would need an external codec and raises clearly."""
    import struct

    if bytes(buf[:4]) == VIDEO_MAGIC:
        return struct.unpack_from("<IIII", buf, 4)
    from overmatch_spark.kernels.mp4 import is_mp4, parse_mp4

    if is_mp4(buf):
        t = parse_mp4(buf)
        return t.width, t.height, t.n_samples, int(round(t.fps))
    raise NotImplementedError(
        "unknown video container (webm/H.264 decode needs a codec "
        "library not present in this sandbox); RAWV and MP4/MJPEG decode"
    )


class VideoReader:
    """Per-video demux handle: the container table is parsed ONCE,
    then every frame read is an O(1) byte-range slice (+ jpeg decode
    for mp4). Use this in per-row loops instead of the module-level
    one-shot helpers."""

    def __init__(self, buf: bytes):
        self.buf = buf
        if bytes(buf[:4]) == VIDEO_MAGIC:
            self._track = None
            import struct

            self.w, self.h, self.n_frames, self.fps = struct.unpack_from(
                "<IIII", buf, 4
            )
        else:
            from overmatch_spark.kernels.mp4 import is_mp4, parse_mp4

            if not is_mp4(buf):
                raise NotImplementedError(
                    "unknown video container (webm/H.264 decode needs a "
                    "codec library); RAWV and MP4/MJPEG decode"
                )
            t = parse_mp4(buf)
            if t.codec != "jpeg":
                raise NotImplementedError(
                    f"mp4 sample codec {t.codec!r}: only Motion-JPEG "
                    "decodes in this sandbox"
                )
            self._track = t
            self.w, self.h = t.width, t.height
            self.n_frames, self.fps = t.n_samples, int(round(t.fps))

    def frame_rgb(self, idx: int) -> bytes:
        if self._track is None:
            # O(1) slice straight from the header fields parsed in
            # __init__ — no per-frame re-dispatch/re-parse
            if not 0 <= idx < self.n_frames:
                raise IndexError(f"frame {idx} of {self.n_frames}")
            fsz = self.w * self.h * 3
            start = _V_HEAD + idx * fsz
            return bytes(self.buf[start : start + fsz])
        from overmatch_spark.kernels.jpeg import jpeg_decode_rgb
        from overmatch_spark.kernels.mp4 import sample_bytes

        return jpeg_decode_rgb(
            sample_bytes(self.buf, self._track, idx)
        ).tobytes()


def encode_video_mp4(
    frames: list[np.ndarray], fps: int = 30, quality: int = 98
) -> bytes:
    """Real MP4: JFIF-encode each frame (kernels/jpeg.py) and mux into
    an ISO BMFF Motion-JPEG container (kernels/mp4.py)."""
    from overmatch_spark.kernels.jpeg import jpeg_encode_rgb
    from overmatch_spark.kernels.mp4 import mux_mjpeg

    h, w, _ = frames[0].shape
    samples = [jpeg_encode_rgb(f, quality=quality) for f in frames]
    return mux_mjpeg(samples, w, h, fps=fps)


def encode_audio(samples: np.ndarray, rate: int = 16_000) -> bytes:
    import struct

    s = np.asarray(samples, dtype=np.int16)
    return AUDIO_MAGIC + struct.pack("<II", rate, s.size) + s.tobytes()


def encode_wav(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """REAL audio container: RIFF/WAVE, mono 16-bit PCM — the raw
    interchange format every audio pipeline ingests. Pure stdlib
    byte packing (PCM needs no codec)."""
    import struct

    s = np.asarray(samples, dtype=np.int16)
    data = s.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(buf: bytes):
    """RIFF chunk walk -> (rate, int16 samples). Handles extra chunks
    (LIST/fact/...) and odd-size padding per the RIFF spec; only
    uncompressed 16-bit PCM decodes (compressed WAV = a codec)."""
    import struct

    if bytes(buf[8:12]) != b"WAVE":
        raise ValueError("RIFF file is not WAVE")
    pos, end = 12, 8 + struct.unpack_from("<I", buf, 4)[0]
    rate = channels = bits = audio_fmt = None
    data = None
    while pos + 8 <= min(end, len(buf)):
        cid = bytes(buf[pos:pos + 4])
        (csz,) = struct.unpack_from("<I", buf, pos + 4)
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", buf, body)
            (bits,) = struct.unpack_from("<H", buf, body + 14)
        elif cid == b"data":
            data = (body, csz)
        pos = body + csz + (csz & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    if audio_fmt != 1 or bits != 16 or channels != 1:
        raise NotImplementedError(
            f"WAV fmt={audio_fmt} ch={channels} bits={bits}: only mono "
            "16-bit PCM decodes in this sandbox (compressed WAV = codec)"
        )
    off, csz = data
    return rate, np.frombuffer(buf, dtype=np.int16, count=csz // 2, offset=off)


def decode_audio(buf: bytes):
    """(sample_rate, int16 samples). Containers: RAWA (fake) and REAL
    RIFF/WAVE PCM. NotImplementedError for compressed codecs
    (mp3/opus — no codec libs in this sandbox)."""
    import struct

    if bytes(buf[:4]) == b"RIFF":
        return _decode_wav(buf)
    if bytes(buf[:4]) != AUDIO_MAGIC:
        raise NotImplementedError(
            "real compressed audio codecs (mp3/opus) are not present in "
            "this sandbox; RAWA and RIFF/WAVE 16-bit PCM decode"
        )
    rate, n = struct.unpack_from("<II", buf, 4)
    return rate, np.frombuffer(buf, dtype=np.int16, count=n, offset=_A_HEAD)


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio; inf when identical."""
    err = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(err * err))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def check_invariants_pdf(pdf, expected_caption_fn=None):
    """Pandas-batch invariant check used inside mapInPandas: for each
    row, decode `bytes` and compare against the regenerated original
    pixels; check caption. Returns a DataFrame(image_id, psnr_db,
    pixels_ok, caption_ok)."""
    import pandas as pd

    out = {"image_id": [], "psnr_db": [], "pixels_ok": [], "caption_ok": []}
    for row in pdf.itertuples(index=False):
        orig = gen_pixels(row.image_id, row.w, row.h)
        dec = decode(row.bytes, row.w, row.h, row.fmt)
        p = psnr_db(orig, dec)
        ok = bool(np.array_equal(orig, dec)) if row.fmt == "raw" else p >= 40.0
        cap_ok = (
            True
            if expected_caption_fn is None
            else row.caption == expected_caption_fn(row.image_id)
        )
        out["image_id"].append(row.image_id)
        out["psnr_db"].append(float(min(p, 1e9)))
        out["pixels_ok"].append(ok)
        out["caption_ok"].append(bool(cap_ok))
    return pd.DataFrame(out)


def invariant_report(df, expected_caption_fn=None):
    """Spark operator: images DataFrame -> per-row invariant report via
    mapInPandas (Arrow-batched; the decode is the one place bytes are
    materialized, and it happens scan-side with no shuffle)."""
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("psnr_db", DoubleType()),
            StructField("pixels_ok", BooleanType()),
            StructField("caption_ok", BooleanType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            yield check_invariants_pdf(pdf, expected_caption_fn)

    return df.select("image_id", "bytes", "w", "h", "fmt", "caption").mapInPandas(
        gen, schema
    )
