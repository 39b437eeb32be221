"""K1-K5 sinks — mirrors reference io/flush_file_test.go:13-142 (dir
validation table), io/flush_s3.go:63,74 (key layout), io/flush_memory.go
(fetch callback), io/flush.go:13-31 (dispatch; ours errors instead of
nil-panicking on unknown sinks)."""

from __future__ import annotations

import gzip
import json
import os
import stat

import pytest

from k8stream_spark.io.ndjson import gzip_bytes, ndjson_bytes
from k8stream_spark.io.sinks import FileSink, MemorySink, S3Sink, make_flusher


def test_ndjson_bytes_one_object_per_line():
    data = ndjson_bytes([{"a": 1}, {"b": "x"}])
    lines = data.decode().splitlines()
    assert [json.loads(l) for l in lines] == [{"a": 1}, {"b": "x"}]
    assert data.endswith(b"\n")  # reference flush.go:49 trailing lineBreak


def test_file_sink_layout(tmp_path):
    sink = FileSink(str(tmp_path))
    path = sink.flush("uid1", 123456789, b"payload\n")
    # reference io/flush_file.go:39: {dir}/{uid}_{ident}.log
    assert path == str(tmp_path / "uid1_123456789.log")
    assert open(path, "rb").read() == b"payload\n"
    assert os.listdir(tmp_path) == ["uid1_123456789.log"]  # no temp file


def test_file_sink_crash_mid_write_leaves_no_final_file(tmp_path, monkeypatch):
    """A flush that dies before the rename leaves no file under the final
    name, so a reader never sees a partial batch, and no temp file."""
    def boom(src, dst):
        raise OSError("crash before rename")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="crash before rename"):
        FileSink(str(tmp_path)).flush("uid1", 7, b"payload\n")
    assert not (tmp_path / "uid1_7.log").exists()
    assert os.listdir(tmp_path) == []


def test_file_sink_dir_validation(tmp_path):
    with pytest.raises(ValueError, match="does not exist"):
        FileSink(str(tmp_path / "missing"))
    f = tmp_path / "afile"
    f.write_text("x")
    with pytest.raises(ValueError, match="not a directory"):
        FileSink(str(f))
    ro = tmp_path / "ro"
    ro.mkdir()
    ro.chmod(stat.S_IRUSR | stat.S_IXUSR)
    try:
        if os.access(str(ro), os.W_OK):
            pytest.skip("running as root; read-only dir not enforceable")
        with pytest.raises(ValueError, match="not writable"):
            FileSink(str(ro))
    finally:
        ro.chmod(0o755)


def test_memory_sink_stores_and_calls_back():
    seen = {}
    sink = MemorySink(on_fetch=lambda ident, data: seen.update({ident: data}))
    uri = sink.flush("u", 42, b"abc")
    assert uri == "memory://u/42"
    assert sink.batches[42] == b"abc"
    assert seen == {42: b"abc"}


def test_s3_sink_key_layout_and_gzip():
    uploads = {}
    sink = S3Sink("bkt", "pre/fix",
                  uploader=lambda b, k, d: uploads.update({(b, k): d}))
    uri = sink.flush("uid9", 777, b"hello\n")
    # reference io/flush_s3.go:63,74: {prefix}/{uid}/{ident}.log.gz
    assert uri == "s3://bkt/pre/fix/uid9/777.log.gz"
    payload = uploads[("bkt", "pre/fix/uid9/777.log.gz")]
    assert gzip.decompress(payload) == b"hello\n"


def test_s3_sink_without_uploader_errors():
    with pytest.raises(RuntimeError, match="uploader"):
        S3Sink("b", "p").flush("u", 1, b"x")


def test_make_flusher_dispatch(tmp_path):
    assert isinstance(make_flusher({"sink": "file", "dir": str(tmp_path)}), FileSink)
    assert isinstance(make_flusher({"sink": "memory"}), MemorySink)
    assert isinstance(make_flusher({"sink": "s3", "bucket": "b"}), S3Sink)
    with pytest.raises(ValueError, match="unknown sink"):
        make_flusher({"sink": "bogus"})  # reference would nil-panic


def test_gzip_bytes_roundtrip():
    payload = gzip_bytes(b"x" * 1000)
    assert gzip.decompress(payload) == b"x" * 1000
    # XFL (header byte 8) is 2 at the maximum level 9; the reference's
    # gzip.NewWriter default level 6 writes 0.
    assert payload[8] == 0

