"""Multimodal columns: binary media payloads with typed metadata.

Images/audio/video ride as ``binary`` columns beside a metadata struct;
decode / feature-extract stages are Arrow-batched ``mapInPandas``
transforms.  Sequali's analogue: BAM's packed binary records with typed
tag accessors and format sniffing with graceful degrade (reference:
_qcmodule.c:5054-5259, util.py:113-123).

The decode kernel is REAL for the uncompressed formats a training
pipeline stages intermediates in, implemented from their public specs
with struct+numpy only (no imaging stack in this container):

- **BMP** (24-bit BI_RGB): header parse, bottom-up padded rows ->
  HxWx3 RGB array; features = 4x8 block-mean luminance grid (the
  thumbnail-embedding shape).
- **WAV** (16-bit PCM RIFF): chunk walk, fmt/data parse -> int16
  samples; features = 32 linear rFFT band log-energies (the
  spectrogram-summary shape).
- **PNG** (8-bit RGB/RGBA, non-interlaced): chunk walk with CRC
  verify, stdlib zlib inflate, per-scanline unfilter (none/sub/up/
  average/Paeth) in numpy — no imaging stack needed.
- **JPEG** (sequential baseline SOF0, r5): full stdlib decode — marker
  walk, canonical Huffman, dequant+dezigzag, separable float IDCT,
  4:2:0/4:2:2 upsampling, restart intervals (sources/jpeg.py).
- **PIL-gated path** for progressive JPEG and exotic PNG variants when
  the environment provides an imaging stack (``HAVE_PIL``).
- **Opaque fallback**: unknown magics get a byte-histogram feature —
  decode never fails a batch (the skipped_reason soft-degrade
  discipline); the emitted ``codec`` column says which path ran.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sequali_spark.sources.tables import load

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, duration_ms:int, mime:string>"
)

FEATURE_DIM = 32

try:  # real decoders for compressed formats, if the environment has them
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

# every exception class a corrupt/hostile payload may surface through
# any decode path — decode_payload's never-fail-the-batch contract
# catches exactly these.  PIL's DecompressionBombError subclasses
# Exception directly (not OSError/ValueError), so it must be listed
# explicitly or a hostile-dims JPEG fails the whole Arrow batch
# (code-review r5).
_DECODE_ERRORS: tuple[type[BaseException], ...] = (
    ValueError, struct.error, OSError, zlib.error, MemoryError,
)
if HAVE_PIL:
    _DECODE_ERRORS = _DECODE_ERRORS + (Image.DecompressionBombError,)


# --- codecs (pure struct/numpy, from the public format specs) ---------------

def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bit BI_RGB BMP writer (BITMAPINFOHEADER, bottom-up,
    4-byte row padding) — fixture generator for the decode path."""
    h, w = pixels.shape[:2]
    row_raw = w * 3
    pad = (-row_raw) % 4
    img_size = (row_raw + pad) * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = np.ascontiguousarray(pixels[:, :, ::-1], dtype=np.uint8)
    padding = b"\x00" * pad
    rows = [bgr[y].tobytes() + padding for y in range(h - 1, -1, -1)]
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit BI_RGB BMP -> HxWx3 uint8 RGB array."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only 24-bit BI_RGB supported")
    bottom_up = h > 0
    h = abs(h)
    row_raw = w * 3
    stride = row_raw + ((-row_raw) % 4)
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = data.reshape(h, stride)[:, :row_raw].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR -> RGB


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """Minimal 16-bit mono PCM RIFF/WAVE writer."""
    pcm = np.asarray(samples).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """16-bit PCM RIFF/WAVE -> (int16 samples, sample_rate); chunk-walk
    parser (fmt before data, unknown chunks skipped)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAVE")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, _ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1 or bits != 16:
                raise ValueError("only 16-bit PCM supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, rate


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# decode-size cap: thumbnails are the production shape; anything larger
# soft-degrades to opaque instead of risking executor memory
MAX_PNG_DECODED_BYTES = 64 * 1024 * 1024


def _png_chunk(ctype: bytes, data: bytes) -> bytes:

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth_predict(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer (8-bit RGB/RGBA, no interlace) — fixture twin
    for the decoder.  ``filter_type`` applies that one filter (0-4) to
    every scanline so round-trip tests can exercise each unfilter
    branch."""

    h, w, ch = pixels.shape
    color_type = {3: 2, 4: 6}[ch]
    arr = np.ascontiguousarray(pixels, dtype=np.uint8).astype(np.int32)
    flat = arr.reshape(h, w * ch)
    prev = np.zeros(w * ch, dtype=np.int32)
    lines = []
    for y in range(h):
        cur = flat[y]
        left = np.zeros(w * ch, dtype=np.int32)
        left[ch:] = cur[:-ch]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - (left + prev) // 2
        elif filter_type == 4:
            ul = np.zeros(w * ch, dtype=np.int32)
            ul[ch:] = prev[:-ch]
            pred = np.fromiter(
                (
                    _paeth_predict(int(left[i]), int(prev[i]), int(ul[i]))
                    for i in range(w * ch)
                ),
                dtype=np.int32,
                count=w * ch,
            )
            filt = cur - pred
        else:
            raise ValueError(f"unknown filter {filter_type}")
        lines.append(bytes([filter_type]) + (filt % 256).astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(lines))
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> HxWx{3,4} uint8 array, pure stdlib zlib + numpy: chunk
    walk with CRC verify, IHDR validation (8-bit RGB/RGBA,
    non-interlaced), zlib inflate of the concatenated IDAT stream, then
    per-scanline unfiltering (spec §9): none/up vectorized, sub as a
    per-lane cumsum mod 256 (recon[x] = raw[x] + recon[x-bpp] telescopes
    to a prefix sum per byte lane), average/Paeth sequential along x
    (each byte needs the already-reconstructed left neighbour).  The
    production media path only meets thumbnails here, so the sequential
    branches are bounded; exotic variants (palette, 16-bit, interlace)
    raise ValueError and soft-degrade via decode_payload."""

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt_method, interlace = ihdr
    if depth != 8 or color_type not in (2, 6) or comp != 0 or interlace != 0:
        raise ValueError("only 8-bit RGB/RGBA non-interlaced supported")
    ch = 3 if color_type == 2 else 4
    stride = 1 + w * ch
    # bound BEFORE inflating: a small crafted PNG can declare huge dims
    # and a zeros IDAT that inflates to gigabytes — the decode must
    # degrade, never OOM the executor (decode_payload's contract)
    if w * h * ch > MAX_PNG_DECODED_BYTES:
        raise ValueError(
            f"decoded size {w}x{h}x{ch} exceeds MAX_PNG_DECODED_BYTES"
        )
    dec = zlib.decompressobj()
    raw = dec.decompress(b"".join(idat), stride * h)
    if dec.unconsumed_tail or not dec.eof or len(raw) != stride * h:
        raise ValueError("IDAT size mismatch")
    out = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        ft = raw[y * stride]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=w * ch, offset=y * stride + 1
        ).astype(np.int32)
        if ft == 0:
            rec = line
        elif ft == 1:
            # sub: per-lane prefix sum mod 256 (lane = byte position mod ch)
            rec = line.copy()
            lanes = rec.reshape(w, ch)
            rec = (np.cumsum(lanes, axis=0, dtype=np.int64) % 256).reshape(-1).astype(np.int32)
        elif ft == 2:
            rec = (line + prev) % 256
        elif ft == 3:
            rec = line.copy()
            for i in range(w * ch):
                left = rec[i - ch] if i >= ch else 0
                rec[i] = (rec[i] + (int(left) + int(prev[i])) // 2) % 256
        elif ft == 4:
            rec = line.copy()
            for i in range(w * ch):
                left = int(rec[i - ch]) if i >= ch else 0
                ul = int(prev[i - ch]) if i >= ch else 0
                rec[i] = (rec[i] + _paeth_predict(left, int(prev[i]), ul)) % 256
        else:
            raise ValueError(f"unknown scanline filter {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, ch)


def image_features(rgb: np.ndarray, grid_h: int = 4, grid_w: int = 8) -> np.ndarray:
    """4x8 block-mean luminance grid in [0,1] — the thumbnail feature.
    Block assignment by integer bucket index + bincount: O(pixels), no
    per-block Python loop."""
    gray = rgb.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = np.arange(h) * grid_h // h
    xs = np.arange(w) * grid_w // w
    cell = (ys[:, None] * grid_w + xs[None, :]).ravel()
    sums = np.bincount(cell, weights=gray.ravel(), minlength=grid_h * grid_w)
    counts = np.bincount(cell, minlength=grid_h * grid_w)
    return (sums / np.maximum(counts, 1) / 255.0).astype(np.float32)


def audio_features(samples: np.ndarray, n_bands: int = FEATURE_DIM) -> np.ndarray:
    """32 linear rFFT band log-energies, normalized to max 1 — the
    spectrogram-summary feature."""
    if len(samples) == 0:
        return np.zeros(n_bands, dtype=np.float32)
    mag = np.abs(np.fft.rfft(samples.astype(np.float64) / 32768.0))
    band = np.minimum(
        (np.arange(len(mag)) * n_bands) // max(len(mag), 1), n_bands - 1
    )
    energy = np.bincount(band, weights=mag * mag, minlength=n_bands)
    feats = np.log1p(energy)
    top = feats.max()
    return (feats / top if top > 0 else feats).astype(np.float32)


def _opaque_features(payload: bytes) -> np.ndarray:
    """Fallback for unknown magics: byte-value histogram — a pure
    function of the bytes, so the pipeline soft-degrades instead of
    failing the batch."""
    if not payload:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % FEATURE_DIM, minlength=FEATURE_DIM).astype(np.float32)
    return hist / max(len(arr), 1)


def jpeg_coefficient_budget() -> int | None:
    """Deployment override for the stdlib-JPEG decode envelope
    (ADVICE r7): the adversarial-safe default MAX_JPEG_COEFFICIENTS
    caps honest decodes at ~1.85 Mpx (4:2:0), silently degrading every
    larger photo to the opaque path.  A deployment that owns its corpus
    sets ``SEQUALI_SPARK_JPEG_MAX_COEFFICIENTS`` to an integer or to
    ``relaxed`` (the r6 envelope, ~16 Mpx / tens of seconds worst-case
    per hostile image); unset keeps the hostile-input default.
    Resolved on the DRIVER (decode_features closes over the value) so a
    real cluster doesn't depend on executor-side env propagation."""
    import os

    v = os.environ.get("SEQUALI_SPARK_JPEG_MAX_COEFFICIENTS", "").strip()
    if not v:
        return None
    if v.lower() == "relaxed":
        from sequali_spark.sources.jpeg import MAX_JPEG_COEFFICIENTS_RELAXED

        return MAX_JPEG_COEFFICIENTS_RELAXED
    return int(v)


def decode_payload(
    payload: bytes, max_jpeg_coefficients: int | None = None
) -> tuple[str, np.ndarray]:
    """Sniff the magic, decode, extract features: (codec, features).
    Mirrors the reference's format sniff + graceful degrade
    (util.py:113-123): a corrupt or unknown payload falls back to the
    opaque histogram rather than raising.  ``max_jpeg_coefficients``
    widens the stdlib JPEG decoder's wall-clock envelope (None = the
    adversarial-safe jpeg.MAX_JPEG_COEFFICIENTS default; see
    jpeg_coefficient_budget for the env knob)."""

    try:
        if payload[:2] == b"BM":
            return "bmp", image_features(decode_bmp(payload))
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            samples, _rate = decode_wav(payload)
            return "wav-pcm", audio_features(samples)
        if payload[:8] == PNG_MAGIC:
            try:
                return "png", image_features(decode_png(payload)[:, :, :3])
            except (ValueError, struct.error, zlib.error):
                # exotic variant (palette/16-bit/interlace) — PIL if the
                # environment has it, else fall through to opaque
                if not HAVE_PIL:
                    raise
                import io

                img = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
                return "pil", image_features(img)
        if payload[:3] == b"\xff\xd8\xff":
            # PIL first when the environment has it: libjpeg decodes at
            # C speed and covers progressive too — the stdlib baseline
            # decoder is the PIL-less path (this container), not a
            # replacement for an imaging stack (code-review r5)
            if HAVE_PIL:
                import io

                img = np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
                return "pil", image_features(img)
            from sequali_spark.sources.jpeg import decode_jpeg_baseline

            return "jpeg-baseline", image_features(
                decode_jpeg_baseline(payload, max_jpeg_coefficients)
            )
    # _DECODE_ERRORS: OSError covers PIL's UnidentifiedImageError and
    # truncated-file reads; MemoryError covers hostile dims that slip
    # past a decoder's own bounds; DecompressionBombError when PIL is
    # present — a corrupt payload must NEVER fail the batch, only
    # degrade this row to the opaque path
    except _DECODE_ERRORS:
        pass  # corrupt header -> opaque fallback below
    return "opaque", _opaque_features(payload)


def decode_features(
    media: DataFrame, max_jpeg_coefficients: int | None = None
) -> DataFrame:
    """binary payload -> (codec, float feature vector), one Arrow stage:
    real BMP/WAV decode + feature kernels, opaque fallback for unknown
    formats (see decode_payload).  ``max_jpeg_coefficients`` (default:
    the SEQUALI_SPARK_JPEG_MAX_COEFFICIENTS env knob, else the
    adversarial-safe jpeg.py default) is resolved here on the driver
    and closed over, so the envelope is a per-job decision, not an
    executor-env accident."""
    if max_jpeg_coefficients is None:
        max_jpeg_coefficients = jpeg_coefficient_budget()
    schema = (
        "media_id string, kind string, n_bytes long, digest string, "
        "codec string, features array<float>"
    )

    def _batches(it):
        for pdf in it:
            payloads = [bytes(p) if p is not None else b"" for p in pdf["payload"]]
            decoded = [decode_payload(p, max_jpeg_coefficients) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in payloads],
                    "digest": [
                        hashlib.blake2b(p, digest_size=16).hexdigest() for p in payloads
                    ],
                    "codec": [c for c, _ in decoded],
                    "features": [f.tolist() for _, f in decoded],
                }
            )

    from sequali_spark.session import spread

    return spread(media.select("media_id", "kind", "payload")).mapInPandas(
        _batches, schema=schema
    )


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: one output row per sampled timestamp.
    The decode itself is the stub; the explode/partition shape is real —
    a doc with duration D emits ceil(D/every_ms) frame rows."""
    n_frames = F.greatest(
        F.ceil(F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


def media_from_documents(spark, sf_dir: str) -> DataFrame:
    """Deterministically lift the driver's documents table into the
    canonical media shape (media_id, kind, payload, meta) so the
    multimodal plumbing runs on driver-provided data: payload = utf-8
    bytes of the text (an opaque blob as far as this module is
    concerned), kind cycles image/audio/video, metadata derived from
    n_chars — all pure functions, so oracle SQL can reproduce them."""
    docs = load(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.concat(F.lit("media-"), F.col("doc_id").cast("string")).alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 1920).cast("int").alias("width"),
            (F.col("n_chars") % 1080).cast("int").alias("height"),
            ((F.col("n_chars") % 5000) + 500).cast("int").alias("duration_ms"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def media_kind_stats(spark, sf_dir: str) -> DataFrame:
    """Per-kind payload stats incl. distinct-payload count (the cheap
    digest tier of media dedup) — oracle-checked."""
    m = media_from_documents(spark, sf_dir)
    return (
        m.groupBy("kind")
        .agg(
            F.count("*").alias("n_media"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.countDistinct(F.md5("payload")).alias("distinct_payloads"),
            F.max(F.col("meta.duration_ms")).alias("max_duration_ms"),
        )
        .orderBy("kind")
    )


def media_frame_sample_query(spark, sf_dir: str, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan over the video slice — oracle-checked: the
    explode/partition shape is the real production plan; only the pixel
    decode is the stub."""
    m = media_from_documents(spark, sf_dir)
    return (
        frame_sample(m, every_ms=every_ms)
        .select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            F.col("frame_ts_ms").cast("long").alias("frame_ts_ms"),
        )
        .orderBy("media_id", "frame_idx")
    )


def media_features_query(spark, sf_dir: str) -> DataFrame:
    """Decode/feature-extract over the media table (rows-only: the
    decode runs in Python).  The driver's lifted payloads are utf-8 text
    blobs (no BMP/WAV magic), so this exercises the sniff-and-fallback
    path end-to-end; the real BMP/WAV decode paths are pinned by
    tests/test_plans_multimodal.py round-trips."""
    m = media_from_documents(spark, sf_dir)
    feats = decode_features(m)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "digest",
        "codec",
        F.floor(F.lit(10000) * F.aggregate("features", F.lit(0.0), lambda a, v: a + v))
        .cast("long")
        .alias("feature_mass_bps"),
    ).orderBy("media_id")


def media_dedup_candidates(features: DataFrame, sim_threshold: float = 0.99) -> DataFrame:
    """Exact-payload dedup by digest (the cheap tier before any
    embedding similarity): groupBy digest, like text exact-dedup."""
    return (
        features.groupBy("digest")
        .agg(F.count("*").alias("n_copies"), F.min("media_id").alias("keeper"))
        .filter(F.col("n_copies") >= 2)
        .orderBy(F.desc("n_copies"), "digest")
    )
