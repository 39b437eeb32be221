"""K1 — NDJSON serialization (reference flush.go:42-51).

``ndjson_bytes`` serializes a batch of dict records into one
newline-delimited JSON buffer for the reference-shaped flush path, and
``gzip_bytes`` compresses that buffer for the S3 sink.  At scale the
JVM JSON writer produces the lines instead
(``streaming.pipeline.distributed_json_sink``).
"""

from __future__ import annotations

import gzip
import json
from collections.abc import Iterable
from typing import Any

_LINE_BREAK = b"\n"  # reference flush.go:11-13


def ndjson_bytes(records: Iterable[dict[str, Any]]) -> bytes:
    """Serialize records to NDJSON exactly like the reference's doBatch:
    one JSON object per line, trailing newline per record."""
    buf = bytearray()
    for rec in records:
        buf += json.dumps(rec, separators=(",", ":"), default=str).encode()
        buf += _LINE_BREAK
    return bytes(buf)


def gzip_bytes(data: bytes) -> bytes:
    """Streaming-style gzip of a flush buffer (reference io/flush_s3.go:55-61
    pipes through gzip without temp files; in-memory here) at level 6,
    the default of the reference's ``gzip.NewWriter``."""
    return gzip.compress(data, compresslevel=6)
