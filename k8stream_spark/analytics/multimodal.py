"""Multimodal-column plumbing: opaque ``binary`` payloads + typed metadata,
processed by Arrow-batched ``mapInPandas``.

Decode is REAL where the stdlib allows it: ``audio_features`` parses WAV
containers with the stdlib ``wave`` module and ``decode_image`` decodes
uncompressed 24-bit BMP (PIL is detected at runtime and used when the
environment provides it; this container ships no codecs, so the
struct-level parsers carry the tests).  ``synth_audio_blobs`` /
``synth_image_blobs`` generate deterministic NON-text-derived binary
fixtures whose decoded features have closed forms — which makes the full
encode→decode path oracle-checkable end to end; ``synth_video_blobs`` /
``frame_sample`` extend this to multi-frame containers (MVID: an
AVI-style frame index over concatenated BMP frames).  Formats whose
decoder needs an external codec (JPEG/MP4) have no decode path here.

Scale notes: binary payloads ride the normal columnar path (parquet
BYTE_ARRAY); ``mapInPandas`` processes whole Arrow batches per call, so
per-row Python overhead is amortized ~10k×.  Metadata extraction that's
expressible as expressions (length, hash) stays JVM-side — Python is only
for the actual decode.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOB_META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, sha256 string, crc32 bigint"
)


def attach_blob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Turn documents into multimodal rows: an opaque binary payload column
    (here: the utf-8 bytes of the text, standing in for image/audio bytes)
    plus typed metadata columns.  JVM-side only."""
    blob = F.encode(F.col(text_col), "utf-8")
    return df.select(
        "doc_id",
        blob.alias("blob"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(blob).alias("n_bytes"),
    )


def blob_meta(df: DataFrame) -> DataFrame:
    """Blob metadata JVM-side: length/sha256/crc32 are all built-in
    expressions, so the hot path stays in whole-stage codegen with zero
    Python (the module rule: Python only for the actual decode).
    ``blob_meta_pandas`` below is the Arrow-batched twin kept for the
    UDF-plumbing tests; this one is what production metadata extraction
    should run — at 100 TB the difference is every byte crossing the
    Arrow boundary twice for a hash the JVM computes in place."""
    return df.select(
        "doc_id",
        F.octet_length("blob").cast("bigint").alias("n_bytes"),
        F.sha2(F.col("blob"), 256).alias("sha256"),
        F.crc32(F.col("blob")).alias("crc32"),
    )


def blob_meta_pandas(df: DataFrame) -> DataFrame:
    """Extract metadata from the binary column with mapInPandas — the real
    Arrow-batched UDF plumbing a decoder would use.  Deterministic, so it
    is oracle-checkable (sha256/crc32 have exact SQL equivalents).
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blobs.map(len).astype("int64"),
                    "sha256": blobs.map(
                        lambda b: hashlib.sha256(bytes(b)).hexdigest()
                    ),
                    "crc32": blobs.map(
                        lambda b: zlib.crc32(bytes(b)) & 0xFFFFFFFF
                    ).astype("int64"),
                }
            )

    return df.select("doc_id", "blob").mapInPandas(extract, BLOB_META_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, sample_rate bigint, n_channels bigint, "
    "n_samples bigint, duration_s double, peak bigint, rms double"
)
IMAGE_DECODE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "mean_r double, mean_g double, mean_b double"
)


def _wav_bytes(doc_id: int) -> bytes:
    """Deterministic 16-bit PCM mono WAV: n samples of a ±a square wave.
    Closed-form features (n = 200 + doc_id%256, a = 1 + (doc_id*37)%20000,
    rate 8000) make the full encode→decode path oracle-checkable."""
    import io
    import struct
    import wave

    n = 200 + doc_id % 256
    a = 1 + (doc_id * 37) % 20000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(
            b"".join(
                struct.pack("<h", a if i % 2 == 0 else -a) for i in range(n)
            )
        )
    return buf.getvalue()


def synth_audio_blobs(df: DataFrame) -> DataFrame:
    """Real binary audio fixture: one WAV blob per doc_id (not
    text-derived bytes) — generated executor-side in Arrow batches."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": pdf["doc_id"].map(lambda d: _wav_bytes(int(d))),
                    "mime": "audio/wav",
                }
            )

    return df.select("doc_id").mapInPandas(
        gen, "doc_id bigint, blob binary, mime string"
    )


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode via the stdlib ``wave`` module (no external
    codecs needed): parse the WAV container, unpack the PCM samples, and
    extract (sample_rate, n_channels, n_samples, duration, peak, rms).
    Same mapInPandas shape a PIL/ffmpeg decoder drops into."""
    import io
    import math
    import struct
    import wave

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "sample_rate", "n_channels", "n_samples",
                "duration_s", "peak", "rms",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                try:
                    with wave.open(io.BytesIO(bytes(blob)), "rb") as w:
                        rate = w.getframerate()
                        nch = w.getnchannels()
                        nf = w.getnframes()
                        samples = struct.unpack(
                            f"<{nf * nch}h", w.readframes(nf)
                        )
                    if not samples or rate <= 0:
                        raise ValueError("empty or rate-less WAV")
                except Exception:
                    # Permissive degradation (O8 contract): malformed
                    # containers yield a null-feature row, never a task
                    # failure.
                    rows["doc_id"].append(int(doc_id))
                    for k in ("sample_rate", "n_channels", "n_samples",
                              "duration_s", "peak", "rms"):
                        rows[k].append(None)
                    continue
                rows["doc_id"].append(int(doc_id))
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(nch)
                rows["n_samples"].append(nf)
                rows["duration_s"].append(round(nf / rate, 6))
                rows["peak"].append(max(abs(s) for s in samples))
                rows["rms"].append(
                    round(
                        math.sqrt(sum(s * s for s in samples) / len(samples)),
                        6,
                    )
                )
            yield pd.DataFrame(rows)

    return df.select("doc_id", "blob").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA
    )


def _bmp_bytes(doc_id: int) -> bytes:
    """Deterministic uncompressed 24-bit BMP: solid color
    (r, g, b) = (doc_id%256, doc_id*7%256, doc_id*13%256), width
    4 + doc_id%8, height 4 — solid fill ⇒ channel means are closed-form."""
    import struct

    w = 4 + doc_id % 8
    h = 4
    r, g, b = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
    row = bytes([b, g, r]) * w  # BMP stores BGR
    pad = (4 - (3 * w) % 4) % 4
    pixels = (row + b"\x00" * pad) * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


def synth_image_blobs(df: DataFrame) -> DataFrame:
    """Real binary image fixture: one 24-bit BMP per doc_id."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": pdf["doc_id"].map(lambda d: _bmp_bytes(int(d))),
                    "mime": "image/bmp",
                }
            )

    return df.select("doc_id").mapInPandas(
        gen, "doc_id bigint, blob binary, mime string"
    )


def _parse_bmp(raw: bytes) -> tuple[int, int, float, float, float]:
    """Minimal stdlib decoder for uncompressed 24-bit BMP (the fallback
    when PIL is absent): (width, height, mean_r, mean_g, mean_b)."""
    import struct

    if raw[:2] != b"BM":
        raise ValueError("not a BMP blob")
    (offset,) = struct.unpack_from("<I", raw, 10)
    _, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", raw, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    h = abs(h)
    stride = (3 * w + 3) & ~3
    tr = tg = tb = 0
    for y in range(h):
        base = offset + y * stride
        for x in range(w):
            i = base + 3 * x
            tb += raw[i]
            tg += raw[i + 1]
            tr += raw[i + 2]
    n = w * h
    return w, h, tr / n, tg / n, tb / n


def decode_image(df: DataFrame) -> DataFrame:
    """REAL image decode with runtime codec detection: uses PIL when the
    environment provides it, else the built-in uncompressed-BMP parser —
    identical output either way (same pixels), so the query is
    deterministic across environments.

    Error isolation (the ingest layer's permissive-mode contract, O8,
    extended to the multimodal path): a malformed or unsupported blob
    yields its doc_id with NULL feature columns — one bad byte stream
    must never fail a 100 TB task.  The null row (rather than a dropped
    row) keeps coverage accounting exact: every input appears once."""
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        # Probe INSIDE the executor-side closure: driver and executors
        # may have different environments, and the decode runs here.
        try:
            from PIL import Image  # noqa: F401

            have_pil = True
        except ImportError:
            have_pil = False

        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                raw = bytes(blob)
                try:
                    if have_pil:
                        from PIL import Image

                        img = Image.open(io.BytesIO(raw)).convert("RGB")
                        w, h = img.size
                        px = list(img.getdata())
                        n = w * h
                        mr = sum(p[0] for p in px) / n
                        mg = sum(p[1] for p in px) / n
                        mb = sum(p[2] for p in px) / n
                    else:
                        w, h, mr, mg, mb = _parse_bmp(raw)
                except Exception:
                    # Permissive degradation: any decode failure (bad
                    # magic, truncated header/pixels, codec error) is a
                    # data problem, not a job problem.
                    rows["doc_id"].append(int(doc_id))
                    for k in ("width", "height", "mean_r", "mean_g", "mean_b"):
                        rows[k].append(None)
                    continue
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_r"].append(round(mr, 6))
                rows["mean_g"].append(round(mg, 6))
                rows["mean_b"].append(round(mb, 6))
            yield pd.DataFrame(rows)

    return df.select("doc_id", "blob").mapInPandas(
        extract, IMAGE_DECODE_SCHEMA
    )


#: MVID container layout (the AVI-index pattern, codec-free):
#: magic "MVID" | u32 n_frames | n_frames × u32 frame byte length |
#: concatenated frame payloads (each an uncompressed 24-bit BMP).
_MVID_MAGIC = b"MVID"

FRAME_SAMPLE_SCHEMA = (
    "doc_id bigint, frame_idx bigint, n_frames bigint, "
    "width bigint, height bigint, pixel_sum bigint"
)


def _mvid_bytes(doc_id: int) -> bytes:
    """Deterministic multi-frame video container: 3 + doc_id%6 BMP
    frames, frame f solid-filled with (r,g,b) = ((doc_id+f)%256,
    (doc_id·7+f·3)%256, (doc_id·13+f·5)%256) at (4+doc_id%8)×4 — every
    sampled frame's decoded pixel sum is closed-form for the oracle."""
    import struct

    frames = [
        _bmp_frame_bytes(doc_id, f) for f in range(3 + doc_id % 6)
    ]
    index = b"".join(struct.pack("<I", len(fr)) for fr in frames)
    return (
        _MVID_MAGIC
        + struct.pack("<I", len(frames))
        + index
        + b"".join(frames)
    )


def _bmp_frame_bytes(doc_id: int, frame: int) -> bytes:
    """One MVID frame: a 24-bit BMP whose solid fill varies per frame."""
    import struct

    w = 4 + doc_id % 8
    h = 4
    r = (doc_id + frame) % 256
    g = (doc_id * 7 + frame * 3) % 256
    b = (doc_id * 13 + frame * 5) % 256
    row = bytes([b, g, r]) * w
    pad = (4 - (3 * w) % 4) % 4
    pixels = (row + b"\x00" * pad) * h
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    return header + info + pixels


def synth_video_blobs(df: DataFrame) -> DataFrame:
    """Real binary multi-frame fixture: one MVID container per doc_id,
    generated executor-side in Arrow batches (same shape as the WAV/BMP
    synthesizers)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": pdf["doc_id"].map(lambda d: _mvid_bytes(int(d))),
                    "mime": "video/x-mvid",
                }
            )

    return df.select("doc_id").mapInPandas(
        gen, "doc_id bigint, blob binary, mime string"
    )


def frame_sample(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video frame sampling over the binary column: parse the MVID
    container (magic check, frame count, per-frame byte index — the AVI
    idx1 pattern), slice out every ``every_n``-th frame WITHOUT decoding
    the skipped ones (the point of an index: seek, don't scan), then
    decode each sampled frame's BMP payload and emit its dimensions and
    exact integer pixel sum as the content checksum.

    One input row → many frame rows (the ffmpeg ``select=not(mod(n\\,k))``
    contract).  Arrow-batched ``mapInPandas``; a container-walk or
    BMP-decode bug breaks the oracle's closed-form hash match.  Malformed
    containers (bad magic, truncated index or payload) degrade to zero
    rows for that doc rather than failing the task — the permissive-mode
    contract of the ingest layer extended to the multimodal path."""
    import struct

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "n_frames",
                "width", "height", "pixel_sum",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                raw = bytes(blob)
                if raw[:4] != _MVID_MAGIC or len(raw) < 8:
                    continue
                (n_frames,) = struct.unpack_from("<I", raw, 4)
                base = 8 + 4 * n_frames
                if len(raw) < base:
                    continue
                sizes = struct.unpack_from(f"<{n_frames}I", raw, 8)
                offsets = np.concatenate(
                    ([0], np.cumsum(sizes))
                ) + base
                if offsets[-1] > len(raw):
                    continue
                for f in range(0, n_frames, every_n):
                    payload = raw[offsets[f]:offsets[f + 1]]
                    try:
                        px = _bmp_pixels(payload)
                    except ValueError:
                        continue
                    h, w = px.shape[:2]
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(f)
                    out["n_frames"].append(int(n_frames))
                    out["width"].append(w)
                    out["height"].append(h)
                    out["pixel_sum"].append(int(px.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    return df.select("doc_id", "blob").mapInPandas(
        sample, FRAME_SAMPLE_SCHEMA
    )


RESIZE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "mean_r double, mean_g double, mean_b double, pixel_sum bigint"
)


def _bmp_pixels(raw: bytes) -> "np.ndarray":
    """Decode an uncompressed 24-bit BMP into an (h, w, 3) RGB uint8
    array in top-down row order.  A positive biHeight means the file
    stores rows bottom-up (the common case — flip them); a NEGATIVE
    biHeight is the BITMAPINFOHEADER top-down variant whose rows are
    already in display order and must NOT be flipped."""
    import struct

    import numpy as np

    if raw[:2] != b"BM":
        raise ValueError("not a BMP blob")
    (offset,) = struct.unpack_from("<I", raw, 10)
    _, w, h, _, bpp, comp = struct.unpack_from("<IiiHHI", raw, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={comp}")
    bottom_up = h > 0
    h = abs(h)
    stride = (3 * w + 3) & ~3
    rows = np.frombuffer(
        raw, dtype=np.uint8, count=h * stride, offset=offset
    ).reshape(h, stride)
    bgr = rows[:, : 3 * w].reshape(h, w, 3)
    rgb = bgr[:, :, ::-1]
    return rgb[::-1] if bottom_up else rgb


def resize_image(
    df: DataFrame, target_w: int = 8, target_h: int = 8
) -> DataFrame:
    """REAL image resize over the binary column — the multimodal
    preprocessing step every vision-language pipeline runs before the
    encoder (fixed input resolution): decode the BMP to a pixel matrix,
    nearest-neighbor resample to (target_w, target_h) with numpy index
    maps (the same sampling PIL's NEAREST uses: src = floor((i+0.5) *
    src/dst)), and emit the resized image's stats — dimensions, per-
    channel means (rounded 6 dp), and the exact integer sum of all
    resized pixel bytes as the content checksum.

    Arrow-batched ``mapInPandas``, one numpy resample per image — the
    prescribed shape for byte-level multimodal work (the pixel math
    cannot be a Catalyst expression).  The synthetic corpus's solid-fill
    BMPs make every output closed-form for the oracle (means = the fill
    color, checksum = target_w·target_h·(r+g+b)) while the decode and
    resample code paths are fully real — a resample indexing bug breaks
    the hash match.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height",
                "mean_r", "mean_g", "mean_b", "pixel_sum",
            )}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                try:
                    px = _bmp_pixels(bytes(blob))
                except Exception:
                    # Permissive degradation (O8 contract): null row.
                    out["doc_id"].append(int(doc_id))
                    for k in ("width", "height", "mean_r", "mean_g",
                              "mean_b", "pixel_sum"):
                        out[k].append(None)
                    continue
                h, w = px.shape[:2]
                ys = np.minimum(
                    ((np.arange(target_h) + 0.5) * h / target_h).astype(int),
                    h - 1,
                )
                xs = np.minimum(
                    ((np.arange(target_w) + 0.5) * w / target_w).astype(int),
                    w - 1,
                )
                rs = px[np.ix_(ys, xs)]
                means = rs.reshape(-1, 3).mean(axis=0)
                out["doc_id"].append(int(doc_id))
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["mean_r"].append(round(float(means[0]), 6))
                out["mean_g"].append(round(float(means[1]), 6))
                out["mean_b"].append(round(float(means[2]), 6))
                out["pixel_sum"].append(int(rs.sum()))
            yield pd.DataFrame(out)

    return df.select("doc_id", "blob").mapInPandas(resize, RESIZE_SCHEMA)
