from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from k8stream_spark.schemas import (
    K8S_EVENT_SCHEMA,
    K8S_NODE_SCHEMA,
    K8S_OBJECT_SCHEMA,
    K8S_POD_SCHEMA,
    K8S_SERVICE_SCHEMA,
)
from k8stream_spark.session import get_spark

TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _t(seconds: int) -> dt.datetime:
    return TS + dt.timedelta(seconds=seconds)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


def k8s_event(
    uid="e1",
    seconds=0,
    namespace="default",
    reason="Scheduled",
    message="msg",
    component="scheduler",
    host="node-a",
    ref_uid="o1",
    ref_name="pod-1",
    ref_namespace="default",
    ref_kind="Pod",
    ref_api_version="v1",
):
    return (
        uid,
        _t(seconds),
        namespace,
        reason,
        message,
        component,
        host,
        ref_uid,
        ref_name,
        ref_namespace,
        ref_kind,
        ref_api_version,
    )


@pytest.fixture(scope="session")
def events_df(spark):
    """Mirrors the reference's testdata/events.log generation notes
    (FIXTURES.md §A1): duplicates, blacklisted namespaces, empty host,
    unmatched ref_uid."""
    rows = [
        k8s_event(uid="e1", seconds=0),
        k8s_event(uid="e1", seconds=5, message="dup of e1"),  # D1 duplicate
        k8s_event(uid="e2", seconds=1, namespace="kube-system"),  # P1 drop
        k8s_event(uid="e3", seconds=2, reason="Pulled", ref_uid="o2",
                  ref_kind="Deployment"),
        k8s_event(uid="e4", seconds=3, host="", ref_uid="missing"),  # J2 empty host
        k8s_event(uid="e5", seconds=4, namespace="prod", reason="Created"),
    ]
    return spark.createDataFrame(rows, K8S_EVENT_SCHEMA)


@pytest.fixture(scope="session")
def objects_df(spark):
    rows = [
        ("o1", "Pod", "pod-1", "default", {"app": "web"}, {"note": "x"},
         "10.0.0.1", "192.168.0.1", _t(100), "node-a"),
        ("o2", "Deployment", "dep-1", "default", {"app": "api"}, {},
         None, None, None, None),
    ]
    return spark.createDataFrame(rows, K8S_OBJECT_SCHEMA)


@pytest.fixture(scope="session")
def nodes_df(spark):
    rows = [
        ("node-a", ["10.1.1.1", "fe80::1"]),
        ("node-b", []),
    ]
    return spark.createDataFrame(rows, K8S_NODE_SCHEMA)


@pytest.fixture(scope="session")
def services_df(spark):
    rows = [
        # (uid, name, namespace, resource_version, selector, labels, annotations, event_type)
        ("s1", "web", "default", "10", {"app": "web"}, {}, {}, "addedService"),
        ("s2", "all", "default", "11", {}, {}, {}, "updatedService"),  # empty selector
        ("s3", "strict", "default", "9", {"app": "web", "tier": "fe"}, {}, {},
         "updatedService"),
        ("s4", "kubernetes", "default", "2", {"x": "y"}, {}, {}, "addedService"),
        ("s5", "none", "prod", "3", {"app": "nomatch"}, {}, {}, "deletedService"),
    ]
    return spark.createDataFrame(rows, K8S_SERVICE_SCHEMA)


@pytest.fixture(scope="session")
def pods_df(spark):
    rows = [
        ("p1", "pod-1", "default", {"app": "web", "tier": "fe"},
         "10.0.0.1", "192.168.0.1", _t(100)),
        ("p2", "pod-2", "default", {"app": "web", "tier": "be"},
         "10.0.0.2", "192.168.0.2", _t(200)),
        ("p3", "pod-3", "default", {"app": "api"},
         "10.0.0.3", "192.168.0.3", _t(300)),
    ]
    return spark.createDataFrame(rows, K8S_POD_SCHEMA)


@pytest.fixture(scope="session")
def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
        (3, "el perro come con los gatos y los ninos en la casa grande hoy"),
        (4, "der hund und die katze spielen mit das kind im garten heute"),
        (5, "completely different words about spark shuffle partitions and joins"),
        (6, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (7, "漢字のテキストです中文内容"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")
