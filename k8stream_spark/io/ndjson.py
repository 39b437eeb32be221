"""K1 — NDJSON serialization (reference flush.go:42-51).

Two bindings:
  * ``ndjson_bytes`` — pure-Python, for the reference-shaped flush path
    (a batch of dict records → one newline-delimited JSON buffer).
  * ``write_single_ndjson`` — Spark-native: the executor-side JSON writer
    (vectorized, JVM) produces the lines, then the single part file is
    moved to the reference's exact artifact path.  ``coalesce(1)``
    matches the reference contract of ONE object per flush; for
    throughput-oriented output use plain ``df.write.json`` and let every
    partition write in parallel (that is the 100 TB default — the
    single-file layout exists for reference parity).
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import tempfile
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame

_LINE_BREAK = b"\n"  # reference flush.go:11-13


def ndjson_bytes(records: Iterable[dict[str, Any]]) -> bytes:
    """Serialize records to NDJSON exactly like the reference's doBatch:
    one JSON object per line, trailing newline per record."""
    buf = bytearray()
    for rec in records:
        buf += json.dumps(rec, separators=(",", ":"), default=str).encode()
        buf += _LINE_BREAK
    return bytes(buf)


def write_single_ndjson(
    df: DataFrame, dest_path: str, compress_gzip: bool = False
) -> str:
    """Write a DataFrame as ONE NDJSON file at ``dest_path`` (optionally
    gzipped), using Spark's JSON writer then relocating the part file.
    Returns the destination path."""
    tmp = tempfile.mkdtemp(prefix="ndjson_")
    try:
        out_dir = os.path.join(tmp, "out")
        writer = df.coalesce(1).write.mode("overwrite")
        if compress_gzip:
            writer = writer.option("compression", "gzip")
        writer.json(out_dir)
        pattern = "part-*.json.gz" if compress_gzip else "part-*.json"
        parts = glob.glob(os.path.join(out_dir, pattern))
        if len(parts) != 1:
            raise RuntimeError(
                f"expected exactly one part file in {out_dir}, got {parts}"
            )
        os.makedirs(os.path.dirname(dest_path) or ".", exist_ok=True)
        shutil.move(parts[0], dest_path)
        return dest_path
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def gzip_bytes(data: bytes) -> bytes:
    """Streaming-style gzip of a flush buffer (reference io/flush_s3.go:55-61
    pipes through gzip without temp files; in-memory here) at level 6,
    the default of the reference's ``gzip.NewWriter``."""
    return gzip.compress(data, compresslevel=6)
