"""Schemas: the k8s-shaped input schemas and the fixture tables.

The reference's output unit, the flat ``L9Event`` struct (reference
event.go:12-31), has no schema object here: its layout is the
projection that builds it (``ops/project.py`` — ``l9event_projection``,
``service_event_synthesis``, and the enriched form
``streaming/pipeline.project_enriched_l9``, which flattens the
miniPodInfo struct into ``pod_*`` columns, FIXTURES.md §A5).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# k8s-shaped input schemas (FIXTURES.md §A; consumed fields only,
# reference event.go:49-63)
# ---------------------------------------------------------------------------

K8S_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType(), False),
        T.StructField("creation_ts", T.TimestampNTZType()),
        T.StructField("namespace", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("source_component", T.StringType()),
        T.StructField("source_host", T.StringType()),
        T.StructField("ref_uid", T.StringType()),
        T.StructField("ref_name", T.StringType()),
        T.StructField("ref_namespace", T.StringType()),
        T.StructField("ref_kind", T.StringType()),
        T.StructField("ref_api_version", T.StringType()),
    ]
)

K8S_OBJECT_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("namespace", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("annotations", T.MapType(T.StringType(), T.StringType())),
        T.StructField("pod_ip", T.StringType()),
        T.StructField("host_ip", T.StringType()),
        T.StructField("start_time", T.TimestampNTZType()),
        T.StructField("node_name", T.StringType()),
    ]
)

K8S_NODE_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("addresses", T.ArrayType(T.StringType())),
    ]
)

K8S_SERVICE_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("namespace", T.StringType()),
        # STRING on purpose: the reference compares resource versions
        # lexicographically (reference handler.go:111) — a pinned quirk.
        T.StructField("resource_version", T.StringType()),
        T.StructField("selector", T.MapType(T.StringType(), T.StringType())),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("annotations", T.MapType(T.StringType(), T.StringType())),
        T.StructField("event_type", T.StringType()),
    ]
)

K8S_POD_SCHEMA = T.StructType(
    [
        T.StructField("uid", T.StringType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("namespace", T.StringType()),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType())),
        T.StructField("pod_ip", T.StringType()),
        T.StructField("host_ip", T.StringType()),
        T.StructField("start_time", T.TimestampNTZType()),
    ]
)

# Driver fixture tables at /root/testdata/sf*/ (TESTDATA.md, FIXTURES.md §B).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
