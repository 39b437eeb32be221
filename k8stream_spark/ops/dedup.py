"""Dedup operators D1/D2 (reference handler.go:95-115, 142-151; cache.go).

The reference's dedup state is a TTL KV cache (buntdb) checked before
enrichment and written after flush.  Spark-first restatement:

  * Batch (the correctness-oracle binding): deterministic window dedup —
    ``row_number() over (partition by key order by ...) = 1``.  We avoid
    bare ``dropDuplicates`` in oracle-checked paths because it keeps an
    *arbitrary* row per key; the window form pins which row survives.
  * Streaming: ``withWatermark(...).dropDuplicates([key])`` — state-store
    backed (RocksDB), TTL ≈ the reference's 3600 s cache expiry
    (k8sclient.go:19-21) expressed as the watermark delay.  Strictly
    stronger than the reference (exactly-once within the watermark vs
    at-least-once, SURVEY.md §2.7 D1).

Scale: the window dedup shuffles once on the key; no sort of the whole
table (the sort is per-key within partitions).  AQE handles skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEDUP_TTL_SECONDS = 3600  # reference k8sclient.go:20 objectCacheExpiry


def dedup_first_seen(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """D1 (batch form) — keep the first-seen row per key
    (reference handler.go:142-151: a UID already in the `events` cache
    table is dropped).  ``order_by`` makes "first" deterministic for the
    oracle (the streaming form's arrival order is replaced by explicit
    columns, typically the event timestamp + a unique tiebreak).
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_streaming(
    df: DataFrame,
    key: str = "id",
    ts_col: str = "ts",
) -> DataFrame:
    """D1 (streaming form) — watermarked exact-once dedup on the key.

    The watermark delay plays the reference's cache TTL: duplicates within
    ``DEDUP_TTL_SECONDS`` of event time are dropped, older state is evicted
    (reference flush.go:57-62 marks after flush with 3600 s expiry).

    Event-time watermarks require TIMESTAMP (not NTZ) — cast through the
    pinned-UTC session first.

    The state store keeps one instance per shuffle partition, each opened
    and committed every trigger; the count is the session's at the
    query's first start and the checkpoint keeps it on restart.
    """
    df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df.withWatermark(
        ts_col, f"{DEDUP_TTL_SECONDS} seconds"
    ).dropDuplicates([key])


def keep_latest_version(
    df: DataFrame,
    key: str,
    version_col: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """D2 — keep-latest-version per key with **lexicographic string**
    ordering on the version column, pinning the reference quirk at
    handler.go:111 (``cache.ReferenceVersion >= rv`` compares strings, so
    '9' beats '10').  The version column must stay StringType.
    """
    order = [F.col(version_col).desc()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
