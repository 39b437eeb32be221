"""Projections P6-P10 and the scalar-function surface F1-F8
(reference event.go:49-66, event.go:89-111, event_service.go:72-112).

All pure column expressions — they stay inside whole-stage codegen and
Catalyst's ColumnPruning trims the upstream scan to exactly the consumed
fields (the Spark-native form of the reference's hand projection
minimization, SURVEY.md §4 O2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from k8stream_spark import L9_VERSION


def l9event_projection(
    df: DataFrame,
    uid_col: str = "uid",
    ts_col: str = "creation_ts",
    version: str = L9_VERSION,
) -> DataFrame:
    """P6 — flatten a k8s-event-shaped frame into the L9Event record
    (reference event.go:49-66): select + rename + epoch-seconds timestamp
    (F5, event.go:52) + constant ``version`` stamp (event.go:65).
    """
    return df.select(
        *_l9event_columns(uid_col, ts_col), F.lit(version).alias("version")
    )


def _l9event_columns(uid_col: str, ts_col: str) -> list[Column]:
    """The L9Event record's fields before ``version``, in output order —
    the one definition of the layout; the enriched projection in
    ``streaming/pipeline.py`` appends its joined fields after these."""
    return [
        F.col(uid_col).alias("id"),
        # NTZ-safe epoch seconds (F5): NTZ → TIMESTAMP under the pinned-UTC
        # session, then truncate to long.
        F.col(ts_col).cast("timestamp").cast("long").alias("timestamp"),
        F.col("source_component").alias("component"),
        F.col("source_host").alias("host"),
        F.col("message"),
        F.col("namespace"),
        F.col("reason"),
        F.col("ref_uid").alias("reference_uid"),
        F.col("ref_namespace").alias("reference_namespace"),
        F.col("ref_name").alias("reference_name"),
        F.col("ref_kind").alias("reference_kind"),
        F.col("ref_api_version").alias("reference_version"),
    ]


def mini_pod_info(prefix: str = "") -> Column:
    """P7 — the miniPodInfo struct {uid,name,namespace,start_time,ip,host_ip}
    (reference event.go:89-98) built from ``{prefix}uid`` etc. columns.
    """
    p = prefix
    return F.struct(
        F.col(f"{p}uid").alias("uid"),
        F.col(f"{p}name").alias("name"),
        F.col(f"{p}namespace").alias("namespace"),
        F.col(f"{p}start_time").alias("start_time"),
        F.col(f"{p}pod_ip").alias("ip"),
        F.col(f"{p}host_ip").alias("host_ip"),
    )


def decode_dynamic_object(df: DataFrame, json_col: str, schema) -> DataFrame:
    """P8 — dynamic-object decode (reference event.go:100-111).

    ``from_json`` in PERMISSIVE mode returns null on corrupt payloads, the
    declarative analog of the reference's "decode failure only logs, never
    drops" (event.go:71-73, SURVEY.md §4 O8).
    """
    return df.withColumn(json_col, F.from_json(F.col(json_col), schema))


def extract_labels_annotations(
    df: DataFrame, obj_prefix: str = "obj_"
) -> DataFrame:
    """P9 — pull labels/annotations maps off the joined object
    (reference event.go:68-70)."""
    return df.withColumn("labels", F.col(f"{obj_prefix}labels")).withColumn(
        "annotations", F.col(f"{obj_prefix}annotations")
    )


def service_event_synthesis(
    df: DataFrame,
    event_type_col: str = "event_type",
    version: str = L9_VERSION,
) -> DataFrame:
    """P10 — synthesize an L9Event from a service change
    (reference event_service.go:72-112, id at handler.go:96):
    ``id = uid || '-' || resource_version`` (F2 concat_ws), eventType →
    message/reason, wall-clock timestamp (event_service.go:100).
    """
    return df.select(
        F.concat_ws("-", F.col("uid"), F.col("resource_version")).alias("id"),
        F.unix_timestamp(F.current_timestamp()).alias("timestamp"),
        F.lit("k8stream").alias("component"),
        F.lit("").alias("host"),
        F.col(event_type_col).alias("message"),
        F.col("namespace"),
        F.col(event_type_col).alias("reason"),
        F.col("uid").alias("reference_uid"),
        F.col("namespace").alias("reference_namespace"),
        F.col("name").alias("reference_name"),
        F.lit("Service").alias("reference_kind"),
        F.col("resource_version").alias("reference_version"),
        F.col("labels"),
        F.col("annotations"),
        F.lit(version).alias("version"),
    )


# ---------------------------------------------------------------------------
# Scalar-function surface (SURVEY.md §2.3) — thin, documented aliases so the
# mapping from the reference's helpers to Spark built-ins is explicit and
# greppable.  All JVM-side expressions; no Python UDFs.
# ---------------------------------------------------------------------------


def cache_key(table: Column | str, uid: Column | str) -> Column:
    """F1+F2 — ``lower(table) || '-' || uid`` (reference cache.go:41-45)."""
    t = F.col(table) if isinstance(table, str) else table
    u = F.col(uid) if isinstance(uid, str) else uid
    return F.concat_ws("-", F.lower(t), u)


def strip_prefix(col: Column | str, prefix: str) -> Column:
    """F3 — strip a ``{table}-`` key prefix (reference cache.go:124)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, f"^{prefix}-", "")


def epoch_seconds(ts: Column | str) -> Column:
    """F5 — timestamp → epoch seconds (reference event.go:52).  NTZ-safe:
    casts through TIMESTAMP under the pinned-UTC session."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return c.cast("timestamp").cast("long")


def version_gte(a: Column | str, b: Column | str) -> Column:
    """F8 — resourceVersion comparison.  **Lexicographic string** ``>=`` on
    purpose, reproducing the reference quirk at handler.go:111 where '9' >
    '10'.  Callers must NOT cast to numeric.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return ca >= cb
