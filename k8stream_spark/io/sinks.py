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


def write_sized_json(
    df,
    path: str,
    target_mb: int = 128,
    compression: str | None = "gzip",
    sample_rows: int = 200,
) -> int:
    """Size-aware distributed JSON writer — the small-files guard for the
    100 TB sink path.  Estimates bytes/row from a bounded sample of the
    NDJSON serialization, derives ``maxRecordsPerFile`` for the target
    object size, and lets every task roll files at that record count —
    fully distributed (no repartition, no extra shuffle), unlike a
    driver-computed ``repartition(n)`` which adds an exchange just to
    control file sizes.  Returns the records-per-file it chose.

    The sample is ``limit(sample_rows)`` — bounded driver work by
    construction; gzip's ~4x text ratio is folded into the estimate when
    compression is on.
    """
    import json as _json

    sample = df.limit(sample_rows).toJSON().collect()
    if not sample:
        writer = df.write.mode("overwrite")
        if compression:
            writer = writer.option("compression", compression)
        writer.json(path)
        return 0
    avg = max(1, sum(len(s) + 1 for s in sample) // len(sample))
    target_bytes = target_mb * 1024 * 1024
    if compression == "gzip":
        target_bytes *= 4  # uncompressed target for a ~4x text ratio
    per_file = max(1, target_bytes // avg)
    writer = (
        df.write.mode("overwrite").option("maxRecordsPerFile", per_file)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)
    return per_file


def write_training_shards(
    df,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
    seed: str = "shard-v1",
    max_records_per_file: int = 1_000_000,
) -> str:
    """Deterministic sharded parquet writer — the materialization side of
    ``splits.shard_manifest``: documents land under
    ``path/shard_id=K/`` with shard membership a pure function of
    ``md5(seed:id)`` (stable across runs, retries, and cluster sizes),
    and the matching manifest (counts, token totals, XOR membership
    checksums) is written to ``path/_manifest/`` so a reader can verify
    every shard without re-scanning the corpus.

    Scale posture: one ``repartition`` on the shard id so each shard is
    written by one task (no small-files explosion from every task
    touching every shard); ``maxRecordsPerFile`` rolls oversized shards
    into multiple parquet parts WITHIN the shard directory, so a hot
    shard bounds file size, not task count.  The manifest pass is the
    ``shard_manifest`` aggregate — one map-side-combined groupBy.

    Returns the manifest directory path.
    """
    from pyspark.sql import functions as F

    from k8stream_spark.analytics.splits import shard_manifest

    tagged = F.concat(F.lit(seed), F.lit(":"), F.col(id_col).cast("string"))
    okey = F.conv(F.substring(F.md5(tagged), 1, 8), 16, 10).cast("bigint")
    (
        df.withColumn("shard_id", okey % n_shards)
        .repartition(n_shards, "shard_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard_id")
        .parquet(path)
    )
    manifest_path = f"{path}/_manifest"
    shard_manifest(
        df, id_col=id_col, text_col=text_col, n_shards=n_shards, seed=seed
    ).coalesce(1).write.mode("overwrite").parquet(manifest_path)
    return manifest_path
