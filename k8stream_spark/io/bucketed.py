"""Bucketed-table layout: the shuffle-elimination device for repeated
big-big joins and aggregations at the 100 TB scale.

A shuffle on a 100 TB fact table is the single most expensive physical
step a plan can contain; when the same join key is used query after
query (events by object uid, lineitem by orderkey, documents by doc_id),
the right design is to pay the shuffle ONCE at write time and let every
subsequent join/aggregation run co-located:

* ``write_bucketed`` persists a DataFrame hash-bucketed (and per-bucket
  sorted) by the join key — Spark's native bucketing, the managed-table
  analogue of Hive bucketing, metadata-tracked so Catalyst KNOWS the
  layout (``HashPartitioning(key, n)`` output partitioning on scan).
* A join of two tables bucketed by the same key into the same bucket
  count compiles to a SortMergeJoin with NO Exchange on either side —
  each task reads bucket i of both sides; with ``sortBy`` the per-bucket
  sort is also free.  ``tests/test_bucketed.py`` pins that executed-plan
  shape; a production deploy should run the same check against its own
  layout.
* A groupBy on the bucket key likewise aggregates in place (no
  Exchange): partial = final because the layout already co-locates keys.

This module is deliberately thin — bucketing IS a write-time `option`,
not an engine feature to re-implement.  What breaks silently in real
deployments is the layout contract: bucket count must match across
tables, the session must keep ``spark.sql.sources.bucketing.enabled=true``,
and AQE must leave bucket joins alone.  A join of two bucketed tables is
a plain ``spark.table(a).join(spark.table(b), key)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a managed parquet table hash-bucketed by ``key``
    into ``buckets`` files per partition, per-bucket sorted when ``sort``
    (sorted buckets make the downstream SortMergeJoin sort a no-op).

    Bucket-count discipline: every table that will co-join must use the
    SAME ``buckets`` — Spark only elides the exchange when the
    partitioning matches exactly (it can re-bucket-read the smaller
    side's count if one divides the other, but same-count is the
    contract worth enforcing at 100 TB: pick buckets ≈ data / 128 MB).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.format("parquet").mode("overwrite").bucketBy(
        buckets, keys[0], *keys[1:]
    )
    if sort:
        w = w.sortBy(keys[0], *keys[1:])
    w.saveAsTable(table)

