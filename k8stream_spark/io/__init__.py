"""I/O: the count-or-time batcher (W1/W2), NDJSON serialization (K1),
sinks + dispatch (K2-K5), and the heartbeat control plane (K6) —
reference io/ package re-expressed for Spark.
"""

from k8stream_spark.io.batch import Batcher, batch_ident
from k8stream_spark.io.ndjson import ndjson_bytes
from k8stream_spark.io.sinks import (
    FileSink,
    MemorySink,
    S3Sink,
    make_flusher,
)

__all__ = [
    "Batcher",
    "batch_ident",
    "ndjson_bytes",
    "FileSink",
    "MemorySink",
    "S3Sink",
    "make_flusher",
]
