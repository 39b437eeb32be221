"""Plan-shape tests for the bucketed-table layout and dynamic partition
pruning — the two write-time devices that delete the dominant costs of a
100 TB deployment (the fact-table shuffle and the full-table scan).

These assert EXECUTED plans, not just results: the failure mode they
guard (bucket-count drift, a config flip, DPP not firing) is silent —
results stay correct while job cost multiplies.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k8stream_spark.io import bucketed as bk


def assert_no_shuffle_join(df) -> str:
    """Assert the executed plan joins WITHOUT any Exchange (the bucketed
    co-located contract) and return the plan string.  Bucket-count
    drift, a config flip or an extra repartition would add a shuffle
    while results stay correct."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        raise AssertionError(f"bucketed join plan contains a shuffle:\n{plan}")
    if "SortMergeJoin" not in plan:
        raise AssertionError(f"expected SortMergeJoin in:\n{plan}")
    return plan


@pytest.fixture()
def no_broadcast(spark):
    """Force the shuffle-join path so the bucketed layout (not a
    broadcast) is what must eliminate the exchanges."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.fixture()
def bucketed_tables(spark):
    facts = spark.range(0, 10000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )
    bk.write_bucketed(facts, "tb_facts", "k", 4)
    bk.write_bucketed(dims, "tb_dims", "k", 4)
    yield "tb_facts", "tb_dims"
    spark.sql("DROP TABLE IF EXISTS tb_facts")
    spark.sql("DROP TABLE IF EXISTS tb_dims")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    left, right = bucketed_tables
    j = spark.table(left).join(spark.table(right), "k")
    assert j.count() == 10000
    plan = assert_no_shuffle_join(j)  # raises if any Exchange / no SMJ
    assert "SortMergeJoin" in plan


def test_bucketed_groupby_aggregates_in_place(spark, bucketed_tables):
    left, _ = bucketed_tables
    agg = spark.table(left).groupBy("k").agg(F.sum("v").alias("s"))
    assert agg.count() == 500
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # Scan reports HashPartitioning(k, 4): partial == final, no shuffle.
    assert "Exchange" not in plan


def test_unbucketed_join_shuffles_as_baseline(spark, no_broadcast):
    # Sanity check of the test itself: WITHOUT bucketing the same join
    # must shuffle — otherwise the assertions above prove nothing.
    facts = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(0, 100).select(F.col("id").alias("k"))
    j = facts.join(dims, "k")
    j.count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    facts = spark.range(0, 5000).select(
        (F.col("id") % 10).alias("p"), F.col("id").alias("v")
    )
    path = str(tmp_path / "dpp_facts")
    facts.write.partitionBy("p").mode("overwrite").parquet(path)
    pf = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(i, "hot" if i == 3 else "cold") for i in range(10)],
        "p long, tag string",
    )
    q = pf.join(dim.where(F.col("tag") == "hot"), "p")
    rows = q.collect()
    # One of ten partitions survives the runtime prune.
    assert len(rows) == 500
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_snapshot_delta_on_bucketed_snapshots_no_exchange(
    spark, no_broadcast
):
    """The docstring's 100 TB claim, executed: with both corpus
    snapshots bucketed by doc_id, snapshot_delta's full-outer join
    runs with ZERO exchanges — the md5 collapse is a per-bucket
    projection, so the bucketed layout carries straight through."""
    from k8stream_spark.analytics.dedup import snapshot_delta
    from k8stream_spark.io import bucketed as bk

    old = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("txt-"), (F.col("id") % 97).cast("string")).alias(
            "text"
        ),
    )
    new = spark.range(500, 2500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("txt-"), ((F.col("id") + (F.col("id") % 5 == 0).cast("int"))
                            % 97).cast("string")
        ).alias("text"),
    )
    bk.write_bucketed(old, "tb_snap_old", "doc_id", 4)
    bk.write_bucketed(new, "tb_snap_new", "doc_id", 4)
    try:
        delta = snapshot_delta(
            spark.table("tb_snap_old"), spark.table("tb_snap_new")
        )
        n = delta.count()
        assert n >= 1000  # 500 removed + 500 added + changed tail
        plan = delta._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin FullOuter" in plan or "SortMergeJoin" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_snap_old")
        spark.sql("DROP TABLE IF EXISTS tb_snap_new")
