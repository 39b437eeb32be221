"""K2-K5 — sinks and dispatch (reference io/flush.go, io/flush_s3.go,
io/flush_file.go, io/flush_memory.go).

The Flusher contract is the reference's: ``flush(uid, ident, data)`` with
one artifact per batch.  Artifact layouts pinned from the reference:

  * S3:   s3://{bucket}/{prefix}/{uid}/{ident}.log.gz   (flush_s3.go:63,74)
  * file: {dir}/{uid}_{ident}.log                        (flush_file.go:39)
  * memory: ident → bytes map + on_fetch callback        (flush_memory.go)

K5 improvement over the reference: an unknown sink name raises ValueError
instead of the reference's nil-pointer panic (io/flush.go:13-31 has no
default case).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any, Protocol

from k8stream_spark.io.ndjson import gzip_bytes


class Flusher(Protocol):
    def flush(self, uid: str, ident: int, data: bytes) -> str: ...


class FileSink:
    """K3 — write each batch to ``{dir}/{uid}_{ident}.log``
    (reference io/flush_file.go:38-41).  Constructor validates the
    directory exists, is a directory, and is writable — the reference's
    LoadConfig-time checks (flush_file.go:17-36)."""

    def __init__(self, directory: str) -> None:
        if not os.path.exists(directory):
            raise ValueError(f"file sink: path does not exist: {directory}")
        if not os.path.isdir(directory):
            raise ValueError(f"file sink: not a directory: {directory}")
        if not os.access(directory, os.W_OK):
            raise ValueError(f"file sink: directory not writable: {directory}")
        self.directory = directory

    def flush(self, uid: str, ident: int, data: bytes) -> str:
        """Write a dot-prefixed temp file, then ``os.replace`` it onto the
        final name: a crash mid-write leaves no partial final file, and a
        failed write or rename removes the temp file before re-raising."""
        path = os.path.join(self.directory, f"{uid}_{ident}.log")
        tmp = os.path.join(self.directory, f".{uid}_{ident}.log.tmp")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        return path


class MemorySink:
    """K4 — in-memory batches keyed by ident with an optional fetch
    callback (reference io/flush_memory.go:8-26)."""

    def __init__(self, on_fetch: Callable[[int, bytes], None] | None = None):
        self.batches: dict[int, bytes] = {}
        self.on_fetch = on_fetch

    def flush(self, uid: str, ident: int, data: bytes) -> str:
        self.batches[ident] = data
        if self.on_fetch is not None:
            self.on_fetch(ident, data)
        return f"memory://{uid}/{ident}"


class S3Sink:
    """K2 — gzip + upload to ``{prefix}/{uid}/{ident}.log.gz``
    (reference io/flush_s3.go:45-85; gzip streamed, ACL private, storage
    class STANDARD_IA).

    The uploader is injected: in production pass a callable that PUTs to
    object storage (or use ``streaming.pipeline.distributed_json_sink``
    with an ``s3a://`` base path, whose gzip JSON writer streams
    multipart uploads through the s3a committer — the idiomatic 100 TB
    path).  No AWS SDK is assumed here.
    """

    storage_class = "STANDARD_IA"  # reference io/flush_s3.go:81

    def __init__(
        self,
        bucket: str,
        prefix: str,
        uploader: Callable[[str, str, bytes], None] | None = None,
    ) -> None:
        self.bucket = bucket
        self.prefix = prefix
        self._upload = uploader

    def key(self, uid: str, ident: int) -> str:
        return f"{self.prefix}/{uid}/{ident}.log.gz"

    def flush(self, uid: str, ident: int, data: bytes) -> str:
        key = self.key(uid, ident)
        payload = gzip_bytes(data)
        if self._upload is None:
            raise RuntimeError(
                "S3Sink has no uploader configured; inject one or write via "
                "streaming.pipeline.distributed_json_sink to an s3a:// path"
            )
        self._upload(self.bucket, key, payload)
        return f"s3://{self.bucket}/{key}"


def make_flusher(conf: dict[str, Any]) -> Flusher:
    """K5 — sink dispatch (reference io/flush.go:13-31).  Raises a proper
    error for unknown sinks instead of the reference's nil panic."""
    sink = conf.get("sink")
    if sink == "file":
        return FileSink(conf["dir"])
    if sink == "memory":
        return MemorySink(conf.get("on_fetch"))
    if sink == "s3":
        return S3Sink(conf["bucket"], conf.get("prefix", ""), conf.get("uploader"))
    raise ValueError(f"unknown sink {sink!r}; expected one of s3|file|memory")

