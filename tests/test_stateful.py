"""Custom stateful streaming operators (applyInPandasWithState): each
one's state after draining a stream equals its batch twin's result over
the same rows.  Sequential runs share one checkpoint so state carries
across restarts exactly like a long-lived process.

Harness notes: ProcessingTimeTimeout keeps the engine scheduling
no-data micro-batches to service pending timers, so the TTL runs disable
``noDataMicroBatches`` (the operator's data path checks deadlines
itself; timers are only state GC).  The sink is foreachBatch — the
memory sink cannot recover from a checkpoint.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import types as T


def _write(path: str, name: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture()
def no_data_batches_off(spark):
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    yield
    spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")


def test_anomaly_stats_stateful_matches_batch_fold(spark, tmp_path):
    """Streaming per-group moment state after draining an event stream
    equals the exact integer batch fold over the same events — the
    batch/stream symmetry contract for the anomaly-zscore deployment
    form, including cross-restart accumulation via the checkpoint."""
    import math

    from pyspark.sql import types as T

    from k8stream_spark.streaming.stateful import anomaly_stats_stateful

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [("a", 1.25), ("a", 2.5), ("b", 10.0)]
    # Null values must be dropped before the state function (a single
    # null otherwise reaches the int() fold as NaN and kills the whole
    # query) and must not count toward n.
    batch2 = [("a", 0.001), ("b", 10.0), ("a", None), ("c", None)]

    latest: dict[str, tuple[int, int, int]] = {}

    def run() -> None:
        stream = spark.readStream.schema(schema).json(src)
        stats = anomaly_stats_stateful(stream)

        def collect(batch_df, _bid):
            for r in batch_df.collect():
                latest[r.grp] = (r.n, r.sum_milli, r.sumsq_milli2)

        q = (
            stats.writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "query did not terminate"

    _write(src, "b1.json", [{"event_type": t, "value": v} for t, v in batch1])
    run()
    _write(src, "b2.json", [{"event_type": t, "value": v} for t, v in batch2])
    run()

    # exact integer replica of the quantized fold over batch1+batch2
    # (nulls skipped entirely — the all-null group "c" never emits)
    want: dict[str, tuple[int, int, int]] = {}
    for t, v in batch1 + batch2:
        if v is None:
            continue
        m = math.floor(v * 1000.0 + 0.5)
        n, s, q_ = want.get(t, (0, 0, 0))
        want[t] = (n + 1, s + m, q_ + m * m)
    assert latest == want


def test_anomaly_batch_stream_null_symmetry(spark):
    """Pins the denominator contract on null-bearing data: batch
    ``anomaly_zscore``'s per-group mean/variance must use n = non-null
    VALUES (what the streaming moment state counts after its null
    drop), not count(1)-over-rows, which would bias the mean low by the
    null count.  Fails if a symmetry refactor flips either side."""
    from k8stream_spark.analytics.events import anomaly_zscore

    rows = [
        (1, "a", 1.0),
        (2, "a", 3.0),
        (3, "a", None),  # must not dilute the mean: m = 2.0, not 4/3
        (4, "a", 2.0),
        (5, "b", 7.0),
        (6, "c", 4.0),
        (7, "c", 4.0),
        (8, "c", None),  # null in a ZERO-VARIANCE group: must stay
        #                  NULL, not fall into the otherwise-0 arm
    ]
    df = spark.createDataFrame(
        rows, "event_id int, event_type string, value double"
    )
    out = {r.event_id: r for r in anomaly_zscore(df).collect()}
    # Group a over non-null values {1,3,2}: m=2, m2=14/3 (rounded 6dp
    # as 4.666667), var=0.666667, s=sqrt(var).  z(event 1) =
    # (1-2)/s — with the old count(1)=4 denominator m would be 1.5 and
    # z would differ in the first decimal, so this pins the contract.
    import math

    s = math.sqrt(4.666667 - 4.0)
    assert out[1].z_micro == round(1000000.0 * (1.0 - 2.0) / s)
    assert out[2].z_micro == round(1000000.0 * (3.0 - 2.0) / s)
    # Null-valued rows still emit (unscoreable, not dropped) with NULL
    # score fields.
    assert out[3].z_micro is None and out[3].is_anomaly is None
    # Single-row group b: zero variance → z pins to 0, no flag.
    assert out[5].z_micro == 0 and out[5].is_anomaly is False
    # Zero-variance group c: non-null rows pin to 0, but the NULL row
    # must short-circuit to NULL before the variance guard (else the
    # otherwise(0.0) arm scores it as a definite non-anomaly).
    assert out[6].z_micro == 0 and out[6].is_anomaly is False
    assert out[8].z_micro is None and out[8].is_anomaly is None


def test_histogram_bins_stateful_matches_batch_bins(spark, tmp_path):
    """Streaming histogram state after draining a value stream equals
    the batch sketch's bin counts over the same values (identical IEEE
    binning), including cross-restart accumulation."""
    import math

    from pyspark.sql import types as T

    from k8stream_spark.streaming.stateful import histogram_bins_stateful

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    batch1 = [("a", 0.015), ("a", 0.016), ("a", 1.25), ("b", 3.0)]
    batch2 = [("a", 0.015), ("b", 2.999)]

    latest: dict[tuple[str, int], int] = {}

    def run() -> None:
        stream = spark.readStream.schema(schema).json(src)
        bins = histogram_bins_stateful(stream)

        def collect(batch_df, _bid):
            for r in batch_df.collect():
                latest[(r.grp, r.bin)] = r.bin_count

        q = (
            bins.writeStream.outputMode("update")
            .foreachBatch(collect)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "query did not terminate"

    _write(src, "b1.json", [{"event_type": t, "value": v} for t, v in batch1])
    run()
    _write(src, "b2.json", [{"event_type": t, "value": v} for t, v in batch2])
    run()

    want: dict[tuple[str, int], int] = {}
    for t, v in batch1 + batch2:
        b = math.floor(v / 0.01)
        want[(t, b)] = want.get((t, b), 0) + 1
    assert latest == want


# ---------------------------------------------------------------------------
# content-change CDC gate — stream twin of analytics.dedup.snapshot_delta
# ---------------------------------------------------------------------------

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _run_gate(
    spark, src: str, ckpt: str, ttl_seconds: int | None = None
) -> list[tuple[int, str, str]]:
    from k8stream_spark.streaming.stateful import content_change_gate_stateful

    stream = spark.readStream.schema(DOC_SCHEMA).json(src)
    kw = {} if ttl_seconds is None else {"ttl_seconds": ttl_seconds}
    gated = content_change_gate_stateful(stream, key="doc_id", **kw)
    emitted: list[tuple[int, str, str]] = []

    def collect(batch_df, _batch_id):
        emitted.extend(
            (r.doc_id, r.text, r.status) for r in batch_df.collect()
        )

    q = (
        gated.writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "query did not terminate"
    return emitted


def test_content_gate_matches_batch_snapshot_delta(
    spark, tmp_path, no_data_batches_off
):
    """Feed the gate two corpus snapshots as successive runs over one
    checkpoint: its add/change decisions must equal the batch
    snapshot_delta over the same two frames, minus 'removed' (absence
    is not a stream event — documented contract)."""
    from k8stream_spark.analytics.dedup import snapshot_delta

    old = [(1, "a"), (2, "b"), (3, "c")]
    new = [(2, "b"), (3, "x"), (4, "d")]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.json", [{"doc_id": i, "text": t} for i, t in old])
    out1 = _run_gate(spark, src, ckpt)
    assert sorted(out1) == [(1, "a", "added"), (2, "b", "added"),
                            (3, "c", "added")]

    _write(src, "b2.json", [{"doc_id": i, "text": t} for i, t in new])
    out2 = _run_gate(spark, src, ckpt)
    stream_decisions = {d: s for d, _, s in out2}
    assert stream_decisions == {3: "changed", 4: "added"}  # 2 suppressed

    batch = {
        r.doc_id: r.status
        for r in snapshot_delta(
            spark.createDataFrame(old, "doc_id bigint, text string"),
            spark.createDataFrame(new, "doc_id bigint, text string"),
        ).collect()
    }
    assert {k: v for k, v in batch.items() if v != "removed"} == (
        stream_decisions
    )


def test_content_gate_folds_within_batch(
    spark, tmp_path, no_data_batches_off
):
    """Serial fold inside one micro-batch: first sight is 'added', a
    same-hash repeat is suppressed, a moved hash is 'changed'."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write(src, "b1.json", [
        {"doc_id": 1, "text": "a"},
        {"doc_id": 1, "text": "a"},
        {"doc_id": 1, "text": "b"},
    ])
    out = _run_gate(spark, src, ckpt)
    assert out == [(1, "a", "added"), (1, "b", "changed")]


def test_content_gate_ttl_rearms_on_unchanged_receipt(
    spark, tmp_path, no_data_batches_off
):
    """A hot-but-STABLE key — re-crawled regularly with identical
    content — must stay resident: each receipt (even a suppressed
    unchanged one) re-arms the TTL deadline, so a third unchanged
    crawl arriving past ttl-from-first-sight but within
    ttl-from-last-receipt is still suppressed, never spuriously
    re-emitted as 'added' (an emit-only re-arm would re-emit it)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ttl = 20

    _write(src, "b1.json", [{"doc_id": 1, "text": "stable"}])
    out1 = _run_gate(spark, src, ckpt, ttl_seconds=ttl)
    assert out1 == [(1, "stable", "added")]
    t_run1 = time.time()

    # Second unchanged crawl well inside ttl: suppressed, and (the
    # fix) the deadline re-arms from NOW, not from first sight.
    time.sleep(8)
    _write(src, "b2.json", [{"doc_id": 1, "text": "stable"}])
    out2 = _run_gate(spark, src, ckpt, ttl_seconds=ttl)
    assert out2 == []
    t_run2 = time.time()

    # Third unchanged crawl: past ttl measured from run 1, inside ttl
    # measured from run 2.  Pre-fix code only re-armed on emit, so the
    # key was evicted here and this crawl re-emitted 'added'.
    time.sleep(max(0.0, (t_run1 + ttl + 1) - time.time()))
    assert time.time() - t_run2 < ttl - 6, "box too slow for timing test"
    _write(src, "b3.json", [{"doc_id": 1, "text": "stable"}])
    out3 = _run_gate(spark, src, ckpt, ttl_seconds=ttl)
    assert out3 == []


# ---------------------------------------------------------------------------
# quota gate — streaming enforcement twin of splits.source_quota_cap
# ---------------------------------------------------------------------------

QD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
    ]
)


def _run_quota(spark, src: str, ckpt: str, quota: int):
    from k8stream_spark.streaming.stateful import quota_gate_stateful

    stream = spark.readStream.schema(QD_SCHEMA).json(src)
    gated = quota_gate_stateful(stream, quota=quota, key="source")
    emitted: list[tuple[int, str, int]] = []

    def collect(batch_df, _bid):
        emitted.extend(
            (r.doc_id, r.source, r.admit_rank) for r in batch_df.collect()
        )

    q = (
        gated.writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "query did not terminate"
    return emitted


def test_quota_gate_first_come_and_count_symmetry(spark, tmp_path):
    """Admits first-come up to quota across micro-batches and restarts
    (state carries the count); the admitted COUNT per source equals the
    batch source_quota_cap's min(quota, n) — the pinned shared
    contract (membership legitimately differs, see docstring)."""
    from k8stream_spark.analytics.splits import source_quota_cap

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    quota = 3

    _write(src, "b1.json", [
        {"doc_id": 1, "source": "A"},
        {"doc_id": 2, "source": "A"},
        {"doc_id": 3, "source": "B"},
    ])
    out1 = _run_quota(spark, src, ckpt, quota)
    assert sorted(out1) == [(1, "A", 1), (2, "A", 2), (3, "B", 1)]

    # Second run, same checkpoint: A has room for ONE more; ranks
    # continue from persisted state.
    _write(src, "b2.json", [
        {"doc_id": 4, "source": "A"},
        {"doc_id": 5, "source": "A"},
        {"doc_id": 6, "source": "B"},
    ])
    out2 = _run_quota(spark, src, ckpt, quota)
    a_rows = [r for r in out2 if r[1] == "A"]
    assert len(a_rows) == 1 and a_rows[0][2] == 3
    assert [r for r in out2 if r[1] == "B"] == [(6, "B", 2)]

    # Count symmetry vs the batch twin over the full window.
    all_rows = [(1, "A"), (2, "A"), (3, "B"), (4, "A"), (5, "A"),
                (6, "B")]
    batch = source_quota_cap(
        spark.createDataFrame(all_rows, "doc_id bigint, source string"),
        quota=quota,
    )
    from collections import Counter

    batch_counts = Counter(r.source for r in batch.collect())
    stream_counts = Counter(s for _, s, _ in out1 + out2)
    assert batch_counts == stream_counts == Counter({"A": 3, "B": 2})
