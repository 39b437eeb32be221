"""I/O: NDJSON serialization (K1), sinks + dispatch (K2-K5), the
bucketed-table layout, and the heartbeat control plane (K6) — reference
io/ package re-expressed for Spark.  The count-or-time batch window
(W1/W2) is the streaming trigger plus ``sink_foreach_batch``'s
``batch_size`` slices (streaming/pipeline.py).
"""

from k8stream_spark.io.ndjson import ndjson_bytes
from k8stream_spark.io.sinks import (
    FileSink,
    MemorySink,
    S3Sink,
    make_flusher,
)

__all__ = [
    "ndjson_bytes",
    "FileSink",
    "MemorySink",
    "S3Sink",
    "make_flusher",
]
