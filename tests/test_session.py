"""Session factory: the core count behind ``local[N]`` and the
shuffle-partition default."""

from __future__ import annotations

import os

from k8stream_spark.session import cpu_count, get_spark


def test_cpu_count_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpu_count() == 3


def test_cpu_count_without_env_uses_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda _pid: {0, 2, 5})
    assert cpu_count() == 3


def test_get_spark_defaults_partitions_to_cpu_count(spark, monkeypatch):
    """``get_spark`` on a running session re-applies its runtime SQL
    settings, so the shuffle-partition default is observable here."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        assert get_spark("tests").conf.get(key) == "3"
        six = get_spark("tests", extra_conf={key: "6"})
        assert six.conf.get(key) == "6"
    finally:
        spark.conf.set(key, before)
