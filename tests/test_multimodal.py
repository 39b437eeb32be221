"""Multimodal binary-column plumbing: Arrow-batched mapInPandas with a
stubbed decode (no codecs in this container — the Spark-side contract is
what's under test)."""

from __future__ import annotations

import hashlib

import pytest

from k8stream_spark.analytics import multimodal


def test_attach_blob_schema(docs_df):
    out = multimodal.attach_blob(docs_df)
    assert dict(out.dtypes)["blob"] == "binary"
    row = out.where("doc_id = 1").collect()[0]
    assert row.n_bytes == len(bytes(row.blob))


def test_blob_meta_matches_hashlib(docs_df):
    blobs = multimodal.attach_blob(docs_df)
    metas = {r.doc_id: r for r in multimodal.blob_meta_pandas(blobs).collect()}
    texts = {r.doc_id: r.text for r in docs_df.collect()}
    for doc_id, text in texts.items():
        raw = text.encode()
        assert metas[doc_id].n_bytes == len(raw)
        assert metas[doc_id].sha256 == hashlib.sha256(raw).hexdigest()


def test_blob_meta_expression_matches_pandas(docs_df):
    """The JVM expression path (sha2/crc32 built-ins — what production
    runs) and the Arrow mapInPandas twin produce identical metadata."""
    blobs = multimodal.attach_blob(docs_df)
    expr = {r.doc_id: r for r in multimodal.blob_meta(blobs).collect()}
    pnd = {r.doc_id: r for r in multimodal.blob_meta_pandas(blobs).collect()}
    assert set(expr) == set(pnd)
    for doc_id, r in expr.items():
        p = pnd[doc_id]
        assert (r.n_bytes, r.sha256, r.crc32) == (p.n_bytes, p.sha256, p.crc32)


def test_audio_roundtrip_decode(spark):
    """Real WAV encode → stdlib-wave decode: features match the synthesis
    parameters exactly (sample count, rate, square-wave peak/rms)."""
    df = spark.createDataFrame([(0,), (7,), (300,)], "doc_id bigint")
    blobs = multimodal.synth_audio_blobs(df)
    rows = {r.doc_id: r for r in multimodal.audio_features(blobs).collect()}
    for d in (0, 7, 300):
        r = rows[d]
        assert r.sample_rate == 8000 and r.n_channels == 1
        assert r.n_samples == 200 + d % 256
        assert r.peak == 1 + (d * 37) % 20000
        assert r.rms == float(r.peak)  # square wave: rms == |a|
        assert r.duration_s == round(r.n_samples / 8000, 6)


def test_image_roundtrip_decode(spark):
    """Real BMP encode → decode (PIL when present, stdlib parser here):
    solid fill means channel means equal the fill color exactly."""
    df = spark.createDataFrame([(5,), (123,), (1000,)], "doc_id bigint")
    blobs = multimodal.synth_image_blobs(df)
    rows = {r.doc_id: r for r in multimodal.decode_image(blobs).collect()}
    for d in (5, 123, 1000):
        r = rows[d]
        assert (r.width, r.height) == (4 + d % 8, 4)
        assert (r.mean_r, r.mean_g, r.mean_b) == (
            float(d % 256), float((d * 7) % 256), float((d * 13) % 256)
        )


def test_parse_bmp_rejects_non_bmp():
    with pytest.raises(ValueError):
        multimodal._parse_bmp(b"PNG....definitely not a bmp")


def test_frame_sample_real_container(spark):
    """Round trip: synthesize MVID containers, parse the index, decode
    every 2nd frame — indices and exact pixel sums must match the
    closed form of the synthesis."""
    df = spark.createDataFrame([(5,), (10,)], "doc_id bigint")
    rows = multimodal.frame_sample(
        multimodal.synth_video_blobs(df), every_n=2
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for d in (5, 10):
        n_frames = 3 + d % 6
        got = sorted(by_doc[d], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == list(range(0, n_frames, 2))
        w = 4 + d % 8
        for r in got:
            f = r.frame_idx
            expect = w * 4 * (
                (d + f) % 256 + (d * 7 + f * 3) % 256 + (d * 13 + f * 5) % 256
            )
            assert (r.width, r.height, r.n_frames) == (w, 4, n_frames)
            assert r.pixel_sum == expect


def test_frame_sample_malformed_containers_degrade(spark):
    """Bad magic, truncated index, and truncated payload all yield zero
    rows for that doc — never a task failure (permissive-mode contract
    on the multimodal path)."""
    good = multimodal._mvid_bytes(3)
    cases = [
        (1, b"NOPE" + good[4:]),          # wrong magic
        (2, good[:10]),                   # truncated index table
        (3, good[:-5]),                   # truncated last frame payload
        (4, b""),                         # empty blob
        (5, good),                        # control: intact container
    ]
    df = spark.createDataFrame(cases, "doc_id bigint, blob binary")
    rows = multimodal.frame_sample(df, every_n=2).collect()
    assert {r.doc_id for r in rows} == {5}
    assert len(rows) == len(range(0, 3 + 3 % 6, 2))


def test_resize_image_nearest_neighbor_indexing(spark):
    """Non-uniform hand image: nearest-neighbor src = floor((i+0.5) *
    src/dst) must select exactly columns 1,3 and both rows when going
    4x2 -> 2x2 — a solid-fill corpus (the oracle's case) cannot catch an
    off-by-one here, this test does."""
    import struct

    from k8stream_spark.analytics.multimodal import resize_image

    w, h = 4, 2
    # top-down RGB rows; red channel encodes the position
    top = [(10, 0, 0), (20, 0, 0), (30, 0, 0), (40, 0, 0)]
    bottom = [(50, 0, 0), (60, 0, 0), (70, 0, 0), (80, 0, 0)]
    pad = (4 - (3 * w) % 4) % 4
    # BMP stores rows bottom-up, BGR
    pixels = b""
    for row in (bottom, top):
        pixels += b"".join(bytes([b, g, r]) for r, g, b in row)
        pixels += b"\x00" * pad
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0
    )
    blob = header + info + pixels

    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id bigint, blob binary")
    r = resize_image(df, target_w=2, target_h=2).collect()[0]
    # cols 1,3 of rows 0,1 -> reds {20, 40, 60, 80}
    assert (r.width, r.height) == (2, 2)
    assert r.mean_r == 50.0 and r.mean_g == 0.0 and r.mean_b == 0.0
    assert r.pixel_sum == 20 + 40 + 60 + 80


def _bmp_24(rows_topdown, *, top_down_file):
    """Build a 24-bit BMP from top-down RGB rows, either as the common
    bottom-up file (positive biHeight) or the top-down variant
    (negative biHeight)."""
    import struct

    h = len(rows_topdown)
    w = len(rows_topdown[0])
    pad = (4 - (3 * w) % 4) % 4
    stored = rows_topdown if top_down_file else rows_topdown[::-1]
    pixels = b"".join(
        b"".join(bytes([b, g, r]) for r, g, b in row) + b"\x00" * pad
        for row in stored
    )
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixels), 0, 0, offset)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, (-h if top_down_file else h), 1, 24, 0,
        len(pixels), 2835, 2835, 0, 0,
    )
    return header + info + pixels


def test_bmp_pixels_topdown_orientation():
    """A negative-biHeight (top-down) BMP stores rows in display order —
    _bmp_pixels must NOT flip them; both encodings of the same image
    must decode identically."""
    import numpy as np

    image = [[(10, 0, 0), (20, 0, 0)], [(30, 0, 0), (40, 0, 0)]]
    up = multimodal._bmp_pixels(_bmp_24(image, top_down_file=False))
    down = multimodal._bmp_pixels(_bmp_24(image, top_down_file=True))
    expect = np.asarray(image, dtype=np.uint8)
    assert (up == expect).all()
    assert (down == expect).all()


def test_corrupt_blobs_degrade_to_null_rows(spark):
    """O8 error-isolation on the multimodal decoders: truncated and
    garbage BMP/WAV bytes produce doc_id + NULL feature columns — one
    bad byte stream never fails the task, and coverage stays exact
    (every input doc appears exactly once)."""
    good_bmp = multimodal._bmp_bytes(7)
    good_wav = multimodal._wav_bytes(7)
    bad = [
        (1, good_bmp[:20]),               # truncated header
        (2, good_bmp[:-9]),               # truncated pixel array
        (3, b"\x89PNG\r\n\x1a\n" + b"\x00" * 64),  # wrong format
        (4, b""),                         # empty
        (5, good_bmp),                    # control
    ]
    df = spark.createDataFrame(bad, "doc_id bigint, blob binary")

    img = {r.doc_id: r for r in multimodal.decode_image(df).collect()}
    assert set(img) == {1, 2, 3, 4, 5}
    for d in (1, 2, 3, 4):
        assert img[d].width is None and img[d].mean_r is None
    assert img[5].width == 4 + 7 % 8 and img[5].mean_r == 7.0

    rs = {r.doc_id: r for r in multimodal.resize_image(df).collect()}
    assert set(rs) == {1, 2, 3, 4, 5}
    for d in (1, 2, 3, 4):
        assert rs[d].pixel_sum is None
    assert rs[5].pixel_sum is not None

    wav = [
        (1, good_wav[:12]),               # truncated RIFF header
        (2, good_wav[:60]),               # truncated PCM payload
        (3, b"not audio at all"),
        (4, b""),
        (5, good_wav),                    # control
    ]
    adf = spark.createDataFrame(wav, "doc_id bigint, blob binary")
    au = {r.doc_id: r for r in multimodal.audio_features(adf).collect()}
    assert set(au) == {1, 3, 4, 5} | {2}
    for d in (1, 3, 4):
        assert au[d].rms is None and au[d].sample_rate is None
    assert au[5].sample_rate == 8000 and au[5].peak == 1 + (7 * 37) % 20000
