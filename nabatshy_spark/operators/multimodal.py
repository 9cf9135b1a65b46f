"""Multimodal column handling (SURVEY §2.11): image/audio/video as
opaque binary columns with typed metadata.

The Spark-side plumbing — schema, Arrow-batched ``mapInPandas``
transform, partitioning — is real and tested, and so are the codecs
this container can support without external libraries: PNG decode/
encode/resize (pure-stdlib zlib codec, operators/pngcodec.py), WAV
audio decode (stdlib ``wave``), and keyframe-array video
sampling over PNG frames. Formats needing native codecs (JPEG, H.264)
raise ``NotImplementedError`` into per-row ``decode_error`` slots —
a production deployment swaps libjpeg/ffmpeg into ``decode_image`` /
``decode_audio`` with no change to the Spark plumbing.

Scale notes: binary payloads ride in the same parquet row groups as
their metadata; ``maxPartitionBytes`` governs batch size, and the
mapInPandas stage is shuffle-free (narrow), so throughput is
scan-bound. For very large blobs, store pointers + side files and
fetch inside the batch iterator instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, sha_hex string"
)


def attach_binary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stand-in ingestion: treat the utf-8 bytes of the text column as
    an opaque media payload with typed metadata — the exact schema a
    real image/audio ingest would produce."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit("application/octet-stream").alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )


try:  # documented swap-in: Pillow provides JPEG/WebP/GIF decode when present
    from PIL import Image as _PILImage  # type: ignore
except ImportError:  # Pillow is absent in this container (verified 2026-08-14)
    _PILImage = None


def decode_image(payload: bytes):
    """Decode an image payload to ``(width, height, channels, mean_pixel)``.

    PNG is decoded for real by the pure-stdlib codec
    (operators/pngcodec.py — zlib inflate + scanline unfiltering per the
    public spec).  If Pillow is importable, JPEG/WebP/GIF payloads decode
    through it with the same return contract; in this container Pillow is
    absent, so non-PNG formats raise and surface as per-row
    ``decode_error`` values (poison-payload boundary, not a batch
    failure).  The Spark-side plumbing is identical either way."""
    data = bytes(payload)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        from nabatshy_spark.operators.pngcodec import decode_png

        return decode_png(data)
    if _PILImage is not None:
        import io

        import numpy as np

        img = _PILImage.open(io.BytesIO(data))
        arr = np.asarray(img.convert("RGB" if img.mode not in ("L", "RGB", "RGBA") else img.mode))
        if arr.ndim == 2:
            arr = arr[:, :, None]
        h, w, c = arr.shape
        return w, h, c, float(arr.mean())
    raise NotImplementedError(
        "only PNG decode is available in-container (Pillow not installed; "
        "pip install pillow enables JPEG/WebP/GIF through the same contract)"
    )


IMAGE_SCHEMA = (
    "doc_id long, width int, height int, channels int, "
    "mean_pixel double, decode_error string"
)


def image_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract over binary image payloads via
    Arrow-batched ``mapInPandas``: dimensions, channel count, mean pixel
    intensity. Undecodable payloads yield a ``decode_error`` row instead
    of failing the batch (poison-payload safety at scale).

    Narrow (shuffle-free) stage; batch size rides
    ``maxPartitionBytes``/Arrow batch sizing like the byte-level
    extractor."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = decode_image(payload)
                    rows.append(
                        (doc_id, img.width, img.height, img.channels,
                         float(img.pixels.mean()), None)
                    )
                except Exception as ex:
                    rows.append((doc_id, None, None, None, None, str(ex)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "channels",
                    "mean_pixel", "decode_error",
                ],
            )

    return df.mapInPandas(batches, schema=IMAGE_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload via
    ``mapInPandas``: per-batch pandas in/out, deterministic byte-level
    features (size + sha256). This is the slot where decode +
    model-feature extraction plugs in."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "sha_hex": pdf["payload"].map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.mapInPandas(batches, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# audio: real WAV decode via stdlib `wave` (no external codec needed)
# ---------------------------------------------------------------------------


def decode_audio(payload: bytes):
    """Parse a WAV payload (stdlib ``wave`` — a real decoder, not a
    stub) → (sample_rate, n_channels, int16 sample array). Non-WAV or
    non-16-bit payloads raise, mirroring ``decode_image``; a production
    deployment swaps in libsndfile/ffmpeg here with the same plumbing."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV is decoded")
        rate, nch = w.getframerate(), w.getnchannels()
        samples = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return rate, nch, samples


AUDIO_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_s double, rms double, decode_error string"
)


def audio_features(df: DataFrame) -> DataFrame:
    """Decode + feature-extract over binary WAV payloads via
    Arrow-batched ``mapInPandas``: rate, channels, sample count,
    duration, RMS amplitude. Undecodable payloads yield a
    ``decode_error`` row (poison-payload safety). Narrow stage —
    same scale shape as ``image_features``."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rate, nch, s = decode_audio(payload)
                    n = len(s) // nch
                    rms = float(np.sqrt(np.mean(s.astype("float64") ** 2)))
                    rows.append(
                        (doc_id, rate, nch, n, round(n / rate, 6),
                         round(rms, 6), None)
                    )
                except Exception as ex:
                    rows.append((doc_id, None, None, None, None, None, str(ex)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "sample_rate", "n_channels", "n_samples",
                         "duration_s", "rms", "decode_error"],
            )

    return df.mapInPandas(batches, schema=AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# video: keyframe-array columns (list<binary> of encoded frames)
# ---------------------------------------------------------------------------

FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, "
    "mean_pixel double, decode_error string"
)


def frame_sample_features(df: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling over a video stored as an ARRAY of encoded
    keyframes (``frames array<binary>``) — the storage layout a
    sampled-video pipeline actually lands in parquet (list<binary> per
    row). Every ``every_n``-th frame is decoded (PNG for real via the
    stdlib codec; other codecs raise into ``decode_error``) and
    feature-extracted. Narrow mapInPandas; the array explodes inside
    the Python batch, so no pre-explode shuffle of the blobs."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, frames in zip(pdf["doc_id"], pdf["frames"]):
                for i in range(0, len(frames), every_n):
                    try:
                        img = decode_image(frames[i])
                        rows.append(
                            (doc_id, i, img.width, img.height,
                             round(float(img.pixels.mean()), 6), None)
                        )
                    except Exception as ex:
                        rows.append((doc_id, i, None, None, None, str(ex)))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "width", "height",
                         "mean_pixel", "decode_error"],
            )

    return df.mapInPandas(batches, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# deterministic payload synthesis (stand-in ingest for tests/oracles)
# ---------------------------------------------------------------------------


def _fan_out(ids: DataFrame) -> DataFrame:
    """Spread the id relation across the session's full parallelism
    BEFORE payload synthesis: the fixture table is one parquet file
    (one input split), which would serialize the whole decode stage on
    a single core. Shuffling the pre-payload ids costs O(8 bytes/row);
    real blob ingest gets the same fan-out for free from
    spark.sql.files.maxPartitionBytes over many object files."""
    sc = ids.sparkSession.sparkContext
    return ids.repartition(sc.defaultParallelism)


def attach_audio(df: DataFrame, id_col: str) -> DataFrame:
    """Stand-in audio ingest: a deterministic 16 kHz mono square-wave
    WAV per row (n_samples and amplitude are simple functions of the
    id), so every downstream decoded feature is analytically known —
    RMS of a ±A square wave is exactly A — and a SQL oracle can check
    the REAL wave-format decode end-to-end."""
    import io
    import wave

    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, outs = [], []
            for doc_id in pdf["doc_id"]:
                n = 8000 + (int(doc_id) % 5) * 1000
                amp = 1000 + (int(doc_id) % 7) * 100
                s = np.where(np.arange(n) % 2 == 0, amp, -amp).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(16000)
                    w.writeframes(s.tobytes())
                ids.append(doc_id)
                outs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": ids, "payload": outs})

    return _fan_out(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


def attach_frames(df: DataFrame, id_col: str) -> DataFrame:
    """Stand-in video ingest: 4 solid-gray 8×6 PNG keyframes
    per row, frame i's gray value = (id·7 + i·13) mod 256 — so the
    sampled frames' mean pixels are analytically known while the PNG
    encode/decode in the pipeline is real."""
    import numpy as np

    from nabatshy_spark.operators.pngcodec import encode_png

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, frames = [], []
            for doc_id in pdf["doc_id"]:
                ids.append(doc_id)
                frames.append([
                    encode_png(
                        np.full((6, 8), (int(doc_id) * 7 + i * 13) % 256,
                                dtype=np.uint8)
                    )
                    for i in range(4)
                ])
            yield pd.DataFrame({"doc_id": ids, "frames": frames})

    return _fan_out(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        batches, schema="doc_id long, frames array<binary>"
    )


THUMB_SCHEMA = (
    "doc_id long, width int, height int, thumb_w int, thumb_h int, "
    "thumb_mean double, decode_error string"
)


def attach_images(df: DataFrame, id_col: str) -> DataFrame:
    """Stand-in image ingest: one solid-gray 8×6 PNG per row, gray
    value = (id·11 + 5) mod 256 — the thumbnail mean is analytically
    known while the PNG bytes flowing the pipeline are real."""
    import numpy as np

    from nabatshy_spark.operators.pngcodec import encode_png

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        encode_png(
                            np.full((6, 8), (int(d) * 11 + 5) % 256, dtype=np.uint8)
                        )
                        for d in pdf["doc_id"]
                    ],
                }
            )

    return _fan_out(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


def thumbnail_features(df: DataFrame) -> DataFrame:
    """Decode → nearest-neighbor resize to 4×3 → stats, per binary image row
    (the standard decode/resize preprocessing stage of an image
    training pipeline). Same narrow mapInPandas shape and poison-row
    policy as image_features; the resize is operators/pngcodec.py
    resize_nearest (pure numpy index selection)."""
    from nabatshy_spark.operators.pngcodec import resize_nearest

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = decode_image(payload)
                    th = resize_nearest(img, 4, 3)
                    rows.append(
                        (doc_id, img.width, img.height, th.width, th.height,
                         float(th.pixels.mean()), None)
                    )
                except Exception as ex:
                    rows.append((doc_id, None, None, None, None, None, str(ex)))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "thumb_w", "thumb_h",
                    "thumb_mean", "decode_error",
                ],
            )

    return df.mapInPandas(batches, schema=THUMB_SCHEMA)


def attach_patterned_images(df: DataFrame, id_col: str) -> DataFrame:
    """Stand-in image ingest with STRUCTURE: one 8×6 PNG per row whose
    spatial pattern is ``id % 4`` (flat / ramp / step / V) and whose
    brightness offset is ``(id·7) % 64`` — the same visual structure at
    different exposures. Exact pixel dedup treats every exposure as a
    distinct image; a perceptual hash must collapse them back to the 4
    patterns. Both group structures are analytic functions of the id,
    so a SQL oracle checks the real encode→decode→hash path end to
    end (the attach_audio trick, applied to perceptual grouping)."""
    import numpy as np

    from nabatshy_spark.operators.pngcodec import encode_png

    def _pattern_row(p: int) -> "np.ndarray":
        x = np.arange(8)
        if p == 0:
            v = np.zeros(8)
        elif p == 1:
            v = x * 16
        elif p == 2:
            v = np.where(x >= 4, 96, 0)
        else:
            v = np.abs(2 * x - 7) * 8
        return v.astype(np.int64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                row = _pattern_row(d % 4) + (d * 7) % 64  # max 112+63 < 256
                payloads.append(
                    encode_png(
                        np.tile(row, (6, 1)).astype(np.uint8)
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return _fan_out(df.select(F.col(id_col).alias("doc_id"))).mapInPandas(
        batches, schema="doc_id long, payload binary"
    )


DHASH_SCHEMA = "doc_id long, dhash string, decode_error string"


def dhash_hex(payload: bytes) -> str:
    """The per-payload dHash that :func:`image_dhash` maps over its
    batches: decode, grayscale, nearest-resize to 9×8, one bit per
    horizontal adjacent-pixel comparison (64 bits), hex-encoded.
    Raises on undecodable payloads; callers own their poison-row
    policy."""
    import numpy as np

    from nabatshy_spark.operators.pngcodec import Image, resize_nearest

    img = decode_image(payload)
    gray = img.pixels.mean(axis=2).astype(np.uint8)
    g = Image(
        width=img.width, height=img.height, channels=1,
        pixels=gray[:, :, None],
    )
    th = resize_nearest(g, 9, 8)
    px = th.pixels[:, :, 0].astype(np.int16)
    bits = (px[:, 1:] > px[:, :-1]).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return f"{val:016x}"


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash) per binary image row: decode,
    collapse to grayscale, nearest-resize to 9×8, then one bit per
    adjacent-pixel horizontal comparison — 64 bits, emitted as a hex
    string. dHash depends only on local gradient SIGNS, so it is
    invariant to global brightness/contrast shifts and to re-encoding —
    the property that catches "same image, different
    exposure/compression" duplicates that exact pixel or byte hashing
    (image_dup_groups) cannot.

    Same narrow Arrow-batched mapInPandas shape and poison-row policy
    as image_features: no shuffle, undecodable payloads become
    per-row ``decode_error`` values. Grouping by the hash afterwards
    shuffles 8-byte hashes, never pixels."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from nabatshy_spark.operators.multimodal import dhash_hex

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rows.append((doc_id, dhash_hex(payload), None))
                except Exception as ex:
                    rows.append((doc_id, None, str(ex)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "dhash", "decode_error"]
            )

    return df.mapInPandas(batches, schema=DHASH_SCHEMA)
