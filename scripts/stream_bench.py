"""End-to-end streaming throughput: run the full W4 pipeline
(eligibility → dedup → enrichment joins → L9 projection → distributed
JSON sink) over the sf-dir events rendered as the k8s-event JSON shape,
and report events/s.

The reference's only published throughput anchor is its channel/batch
sizing (~333 events/s design point, BASELINE.md); this measures the
same single-node contract on BOTH source bindings — the built-in file
stream source and the custom ``k8s_informer`` DataSourceStreamReader
(LIST/WATCH offsets, sources/informer.py).

Every leg reports TWO lines: the one-shot ``warm: false`` number
(includes state-store init, codegen, Python worker spin-up — the
conservative includes-setup figure) and a ``warm: true`` rerun against
a fresh checkpoint in the same session (the marginal steady-state rate
a 100 TB capacity claim can actually use; the first streaming run in a
session is ~7× slower than warm).  Pipeline warm legs interleave the
two source bindings (F I F I) and report the per-binding min-of-2, so
neither binding pays the session's warm-up for the other.

Also measures the continuous-ingestion DOCUMENT gates: the
stream-static exact incremental dedup (``incremental_exact_filter``
anti-join + watermarked within-stream content dedup) and the LSH
near-dup gate (``near_dup_gate_sink``) — warm reruns reuse the
once-per-corpus-version reference artifacts, so their warm line is the
per-micro-batch marginal cost, with the artifact prep reported
separately.

All lines are also written to ``STREAM_BENCH_latest.json`` at the repo
root (committed — the SCALE.md citation target).

Usage: python scripts/stream_bench.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from k8stream_spark.session import get_spark  # noqa: E402
from k8stream_spark.streaming.pipeline import (  # noqa: E402
    distributed_json_sink,
    run_pipeline,
)

LINES: list[dict] = []


def emit(line: dict) -> None:
    LINES.append(line)
    print(json.dumps(line), flush=True)


def timed_query(start_fn, what: str, timeout: int = 600) -> float:
    t0 = time.time()
    q = start_fn()
    finished = q.awaitTermination(timeout)
    elapsed = time.time() - t0
    if not finished:
        q.stop()
        raise RuntimeError(
            f"{what} did not finish within {timeout}s - refusing to "
            "report a throughput number for an incomplete run"
        )
    return elapsed


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="sb-")
    spark = get_spark("stream-bench")

    # Render the k8s-shaped event stream to NDJSON spool files (source
    # prep — not timed; the reference equivalently receives its events
    # from the API server).
    events = entrymod._k8s_events(spark, sf_dir)
    n = events.count()
    src = f"{work}/src"
    events.write.mode("overwrite").json(src)

    objects = entrymod._objects(spark, sf_dir)
    nodes = entrymod._nodes(spark, sf_dir)

    def run_leg(source_format: str, tag: str) -> float:
        return timed_query(
            lambda: run_pipeline(
                spark,
                src,
                objects,
                nodes,
                sink_fn=distributed_json_sink(f"{work}/out-{tag}"),
                checkpoint_dir=f"{work}/ckpt-{tag}",
                available_now=True,
                namespaces=(),
                reasons=(),
                source_format=source_format,
            ),
            f"pipeline[{tag}]",
        )

    # One-shot legs (includes-setup).
    for source_format in ("files", "informer"):
        elapsed = run_leg(source_format, source_format)
        emit(
            {
                "metric": "stream_pipeline_throughput",
                "source": source_format,
                "warm": False,
                "events_in": n,
                "seconds": round(elapsed, 2),
                "events_per_sec": round(n / elapsed, 1),
                "sf_dir": sf_dir,
            }
        )
    # Warm legs: both bindings are session-warm now; interleave
    # (F I F I) and take the per-binding min-of-2 so a stray GC pause
    # in one slot doesn't misrank the bindings.
    warm_times: dict[str, float] = {}
    for rep in (1, 2):
        for source_format in ("files", "informer"):
            elapsed = run_leg(source_format, f"{source_format}-w{rep}")
            warm_times[source_format] = min(
                warm_times.get(source_format, float("inf")), elapsed
            )
    for source_format, elapsed in warm_times.items():
        emit(
            {
                "metric": "stream_pipeline_throughput",
                "source": source_format,
                "warm": True,
                "agg": "min-of-2 interleaved",
                "events_in": n,
                "seconds": round(elapsed, 2),
                "events_per_sec": round(n / elapsed, 1),
                "sf_dir": sf_dir,
            }
        )

    # --- continuous-ingestion document gate (stream-static incremental
    # dedup + watermarked within-stream dedup, RocksDB-backed state) ---
    from pyspark.sql import functions as F

    from k8stream_spark.analytics.dedup import incremental_exact_filter
    from k8stream_spark.ops.dedup import dedup_streaming
    from k8stream_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    # Even doc_ids play the (static, periodically refreshed) reference
    # corpus, odd ones the streamed new batch — the
    # docs_dedup_incremental oracle's split.
    ref = docs.where((F.col("doc_id") % 2) == 0)
    new = docs.where((F.col("doc_id") % 2) == 1).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("doc_id") % 3600
        ),
    )
    n_docs = new.count()
    doc_src = f"{work}/docsrc"
    new.write.mode("overwrite").json(doc_src)

    def run_exact_gate(tag: str) -> float:
        stream = spark.readStream.schema(new.schema).json(doc_src)
        gated = dedup_streaming(
            incremental_exact_filter(stream, ref).withColumn(
                "__h", F.md5(F.col("text"))
            ),
            key="__h",
            ts_col="ts",
        )
        return timed_query(
            lambda: gated.writeStream.format("noop")
            .option("checkpointLocation", f"{work}/ckpt-docgate-{tag}")
            .trigger(availableNow=True)
            .start(),
            f"doc-gate[{tag}]",
        )

    for warm, tag in ((False, "cold"), (True, "warm")):
        elapsed = run_exact_gate(tag)
        emit(
            {
                "metric": "stream_doc_gate_throughput",
                "warm": warm,
                "docs_in": n_docs,
                "seconds": round(elapsed, 2),
                "docs_per_sec": round(n_docs / elapsed, 1),
                "sf_dir": sf_dir,
            }
        )

    # --- continuous-ingestion NEAR-dup gate: per micro-batch,
    # the new docs audit against the reference corpus through the
    # banded LSH join (pipeline.near_dup_gate_sink).  The reference
    # artifacts (signature frame + md5 set) are a once-per-corpus-
    # version cost, reported separately from the per-doc rate; the
    # warm leg REUSES them, so its docs/s is the marginal
    # per-micro-batch rate of a long-running gate. ---
    from k8stream_spark.streaming.pipeline import near_dup_gate_sink

    t0 = time.time()
    gate_fn = near_dup_gate_sink(
        ref, lambda df, _b: df.write.format("noop").mode("overwrite").save()
    )
    prep_s = time.time() - t0

    def run_near_dup(tag: str) -> float:
        stream2 = spark.readStream.schema(new.schema).json(doc_src)
        return timed_query(
            lambda: stream2.writeStream.outputMode("append")
            .foreachBatch(gate_fn)
            .option("checkpointLocation", f"{work}/ckpt-neardup-{tag}")
            .trigger(availableNow=True)
            .start(),
            f"near-dup-gate[{tag}]",
        )

    for warm, tag in ((False, "cold"), (True, "warm")):
        elapsed = run_near_dup(tag)
        emit(
            {
                "metric": "stream_near_dup_gate_throughput",
                "warm": warm,
                "docs_in": n_docs,
                "seconds": round(elapsed, 2),
                "docs_per_sec": round(n_docs / elapsed, 1),
                "ref_artifact_prep_sec": round(prep_s, 2),
                "sf_dir": sf_dir,
            }
        )

    # --- CDC content-change gate: the stream twin of
    # snapshot_delta.  Leg 1 ("first_sight") feeds a fresh checkpoint —
    # every doc is 'added', the worst-case all-emit rate.  Leg 2
    # ("steady_unchanged") copies the SAME spool under new file names
    # into the same checkpointed source, so every doc hashes equal to
    # its state entry and is suppressed — the marginal rate of the
    # ~99%-unchanged steady-state re-crawl, which is the number a
    # 100 TB re-crawl capacity plan actually needs. ---
    import glob as _glob

    from k8stream_spark.streaming.stateful import (
        content_change_gate_stateful,
    )

    # ProcessingTimeTimeout keeps the engine scheduling no-data
    # micro-batches to service pending state timers, so an availableNow
    # run never terminates (measured: 291 empty epochs before the
    # harness timeout) — the deployment note in streaming/stateful.py;
    # the operator's data path checks deadlines itself.
    spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", "false"
    )

    cdc_src = f"{work}/cdcsrc"
    os.makedirs(cdc_src, exist_ok=True)
    spool = sorted(_glob.glob(f"{doc_src}/part-*"))

    def copy_spool(gen: int) -> None:
        for i, p in enumerate(spool):
            shutil.copy(p, f"{cdc_src}/g{gen}-{i}.json")

    def run_cdc(tag: str) -> float:
        stream3 = spark.readStream.schema(new.schema).json(cdc_src)
        return timed_query(
            lambda: content_change_gate_stateful(stream3, key="doc_id")
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", f"{work}/ckpt-cdc")
            .trigger(availableNow=True)
            .start(),
            f"cdc-gate[{tag}]",
        )

    copy_spool(1)
    first = run_cdc("first_sight")
    copy_spool(2)
    steady = run_cdc("steady_unchanged")
    for leg, elapsed in (
        ("first_sight", first),
        ("steady_unchanged", steady),
    ):
        emit(
            {
                "metric": "stream_cdc_gate_throughput",
                "leg": leg,
                "warm": leg == "steady_unchanged",
                "docs_in": n_docs,
                "seconds": round(elapsed, 2),
                "docs_per_sec": round(n_docs / elapsed, 1),
                "sf_dir": sf_dir,
            }
        )
    spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")

    # --- streaming quota gate: first-come per-source admission
    # cap, the enforcement twin of source_quota_cap (NoTimeout state =
    # |sources| longs).  quota=50 over the 20-source doc stream admits
    # 1,000 of the 2,500 docs; the rate includes the drop path. ---
    from k8stream_spark.streaming.stateful import quota_gate_stateful

    for warm, tag in ((False, "cold"), (True, "warm")):
        streamq = spark.readStream.schema(new.schema).json(doc_src)
        elapsed = timed_query(
            lambda: quota_gate_stateful(streamq, quota=50, key="source")
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", f"{work}/ckpt-quota-{tag}")
            .trigger(availableNow=True)
            .start(),
            f"quota-gate[{tag}]",
        )
        emit(
            {
                "metric": "stream_quota_gate_throughput",
                "warm": warm,
                "docs_in": n_docs,
                "seconds": round(elapsed, 2),
                "docs_per_sec": round(n_docs / elapsed, 1),
                "sf_dir": sf_dir,
            }
        )

    # --- keyed-state analytics twins: per-group moment state for
    # z-score anomaly scoring and the equi-width histogram-bin state,
    # both applyInPandasWithState on the RocksDB provider — measured
    # over the sf events table streamed as JSON. ---
    from k8stream_spark.streaming.stateful import (
        anomaly_stats_stateful,
        histogram_bins_stateful,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    n_ev = ev.count()
    ev_src = f"{work}/evsrc"
    ev.write.mode("overwrite").json(ev_src)
    for name, op in (
        ("anomaly_stats_stateful", anomaly_stats_stateful),
        ("histogram_bins_stateful", histogram_bins_stateful),
    ):
        for warm, tag in ((False, "cold"), (True, "warm")):
            stream = spark.readStream.schema(ev.schema).json(ev_src)
            elapsed = timed_query(
                lambda: op(stream)
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", f"{work}/ckpt-{name}-{tag}")
                .trigger(availableNow=True)
                .start(),
                f"{name}[{tag}]",
            )
            emit(
                {
                    "metric": "stream_stateful_throughput",
                    "operator": name,
                    "warm": warm,
                    "events_in": n_ev,
                    "seconds": round(elapsed, 2),
                    "events_per_sec": round(n_ev / elapsed, 1),
                    "sf_dir": sf_dir,
                }
            )
    spark.stop()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(
        os.path.join(here, "STREAM_BENCH_latest.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump({"sf_dir": sf_dir, "lines": LINES}, fh, indent=1)
    if len(sys.argv) <= 2:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
