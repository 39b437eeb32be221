"""One measured process: start a Spark session, run one workload, check
its outputs outside the timed interval, and write the figures as JSON.

``run.py`` starts this script as a fresh process for every run, so each
run pays the program's real set-up: interpreter, JVM, session, one
warm-up action and, for ``analytics_dedup``, the entry module's query map.
It calls only the program's public surface: ``get_spark``,
``run_pipeline``, ``transform_events`` and the ``ops`` stages it chains,
``sink_foreach_batch``, ``S3Sink`` and ``__spark_entry__.queries()``.

Usage: python3 worker.py --workload W --work DIR --seed N --seconds S
           --trace 0|1 --tag NAME --out RESULT.json
"""

from __future__ import annotations

import argparse
import glob
import gzip
import json
import os
import sys
import threading
import time
from collections import Counter

T_START = time.perf_counter()

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

#: The six volume-bound LLM-layer queries of ``analytics_dedup``, in the
#: fixed order they run: the pass is the first of a fresh session, and the
#: query that first uses an operator pays its JIT and codegen, so another
#: order would move cost between the per-query latencies.
DEDUP_QUERIES = (
    "docs_dedup_minhash_lsh",
    "docs_dedup_clusters",
    "emb_cosine_near_dup_lsh",
    "emb_semantic_clusters_lsh",
    "docs_containment_pairs",
    "docs_semantic_dedup",
)
#: A drain that does not finish in this time counts as failed.
DRAIN_TIMEOUT_S = 120
#: Timed ``stream_catchup`` restarts in an untraced run, at least: a restart
#: costs about 10 s whatever the backlog's size, so ``--seconds`` alone would
#: leave one or two to take the fastest of.
MIN_RESTARTS = 3


def log(msg: str) -> None:
    """A timestamped line in the worker log, for reading a run afterwards."""
    print(f"perfbench {time.perf_counter() - T_START:8.2f}s {msg}", file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


class Jvm:
    """JMX readings of the driver JVM, which hosts every executor thread in
    local mode: cumulative GC time and the peak heap in use."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())

    def _heap_pools(self):
        return [
            p for p in self._mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


class Timer:
    """Accumulates wall time and calls for one wrapped callable."""

    def __init__(self):
        self.s = 0.0
        self.calls = 0
        self.bytes = 0

    def wrap(self, fn, count_bytes: bool = False):
        def wrapped(*a, **kw):
            t = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                self.s += time.perf_counter() - t
                self.calls += 1
            if count_bytes:
                self.bytes += len(out)
            return out

        return wrapped


# -- stream_catchup --------------------------------------------------------


class LocalUploader:
    """The S3Sink uploader: writes each object to local disk and records
    when the upload returned, which is when its events reached the sink."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.commits: list[tuple[float, str]] = []
        os.makedirs(out_dir, exist_ok=True)

    def __call__(self, bucket: str, key: str, payload: bytes) -> None:
        path = os.path.join(self.out_dir, key.replace("/", "_"))
        with open(path, "wb") as fh:
            fh.write(payload)
        self.commits.append((time.time(), path))


def dims(spark):
    from k8stream_spark.schemas import K8S_NODE_SCHEMA, K8S_OBJECT_SCHEMA

    return (
        spark.createDataFrame(gen.object_rows(), K8S_OBJECT_SCHEMA),
        spark.createDataFrame(gen.node_rows(), K8S_NODE_SCHEMA),
    )


def drain(spark, spool, objects, nodes, out_dir, ckpt, upload_wrap=None, sink_wrap=None):
    """Restart after an outage: one informer LIST trigger drains the spool
    through the Flusher path.  Returns the drain's seconds, each sunk
    event's lag from the restart to its upload, and the query progress."""
    import __spark_entry__ as entry
    from k8stream_spark.io.sinks import S3Sink
    from k8stream_spark.streaming.pipeline import run_pipeline, sink_foreach_batch

    up = LocalUploader(out_dir)
    uploader = upload_wrap(up) if upload_wrap else up
    sink = sink_foreach_batch(S3Sink("perfbench", "events", uploader), uid="perfbench")
    if sink_wrap:
        sink = sink_wrap(sink)
    t0 = time.time()
    q = run_pipeline(
        spark,
        spool,
        objects,
        nodes,
        sink_fn=sink,
        checkpoint_dir=ckpt,
        available_now=True,
        reasons=entry.REASON_WHITELIST,
        source_format="informer",
    )
    finished = q.awaitTermination(DRAIN_TIMEOUT_S)
    elapsed = time.time() - t0
    if not finished:
        q.stop()
        raise TimeoutError(f"drain of {spool} did not finish in {DRAIN_TIMEOUT_S}s")
    log(f"drain {spool} {elapsed:.2f}s")
    lags = []
    for when, path in up.commits:
        with open(path, "rb") as fh:
            n = gzip.decompress(fh.read()).count(b"\n")
        lags.extend([when - t0] * n)
    return elapsed, lags, [json.loads(p.json) for p in q.recentProgress]


def sink_records(out_dir: str) -> Counter:
    recs: Counter = Counter()
    for path in glob.glob(os.path.join(out_dir, "*")):
        with open(path, "rb") as fh:
            for line in gzip.decompress(fh.read()).splitlines():
                recs[checks.canonical_record(json.loads(line))] += 1
    return recs


def expected_records(spark, spool, objects, nodes) -> Counter:
    """The batch binding over the same spool: each expected event once."""
    import __spark_entry__ as entry
    from k8stream_spark.schemas import K8S_EVENT_SCHEMA
    from k8stream_spark.streaming.pipeline import transform_events

    events = spark.read.schema(K8S_EVENT_SCHEMA).json(spool)
    out = transform_events(
        events, objects, nodes, reasons=entry.REASON_WHITELIST, streaming_dedup=False
    )
    recs: Counter = Counter()
    for row in out.collect():
        rec = json.loads(json.dumps(row.asDict(recursive=True), default=str))
        recs[checks.canonical_record(rec)] += 1
    return recs


def ops_prefix_times(spark, spool, objects, nodes) -> dict:
    """Cumulative-prefix timings of the batch binding on the drained input:
    the time a stage adds is its prefix's time minus the previous one's."""
    import __spark_entry__ as entry
    from k8stream_spark.ops import dedup, filters, joins
    from k8stream_spark.schemas import K8S_EVENT_SCHEMA
    from k8stream_spark.streaming.pipeline import project_enriched_l9

    src = spark.read.schema(K8S_EVENT_SCHEMA).json(spool)
    eligible = filters.eligible_events(src, reasons=entry.REASON_WHITELIST)
    deduped = dedup.dedup_first_seen(
        eligible, keys=["uid"], order_by=["creation_ts", "message"]
    )
    enriched = joins.conditional_pod_enrich(
        joins.node_addresses(joins.enrich_involved_object(deduped, objects), nodes)
    )
    prefixes = [src, eligible, deduped, enriched, project_enriched_l9(enriched)]

    def best(df) -> float:
        times = []
        for _ in range(2):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return min(times)

    t = [best(df) for df in prefixes]
    rows_in, rows_eligible, rows_out = src.count(), eligible.count(), prefixes[-1].count()
    return {
        "ops.filter_s": max(0.0, t[1] - t[0]),
        "ops.dedup_s": max(0.0, t[2] - t[1]),
        "ops.enrich_s": max(0.0, t[3] - t[2]),
        "ops.project_s": max(0.0, t[4] - t[3]),
        "ops.rows_in": rows_in,
        "ops.rows_eligible": rows_eligible,
        "ops.rows_out": rows_out,
        "ops.dedup_keep_ratio": rows_out / rows_eligible if rows_eligible else 0.0,
    }


def source_read_s(spark, spool, ckpt) -> float:
    """A source-only drain of the spool into a noop sink."""
    from k8stream_spark.sources.informer import informer_stream

    t = time.perf_counter()
    q = (
        informer_stream(spark, spool)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError("source-only drain did not finish")
    return time.perf_counter() - t


def progress_metrics(progress: list[dict], restarts: int) -> dict:
    """Per-trigger layer figures from StreamingQueryProgress, over the
    triggers that carried rows; the trigger count is per restart."""
    trig = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not trig:
        return {}

    def d(key):
        return [p["durationMs"].get(key, 0) for p in trig]

    state = [op for p in trig for op in p.get("stateOperators", ())]
    commit = [
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)
        for p in trig
    ]
    return {
        "sources.latest_offset_ms_p50": pct(d("latestOffset"), 50),
        "sources.get_batch_ms_p50": pct(d("getBatch"), 50),
        "streaming.trigger_ms_p50": pct(d("triggerExecution"), 50),
        "streaming.trigger_ms_p90": pct(d("triggerExecution"), 90),
        "streaming.planning_ms_p50": pct(d("queryPlanning"), 50),
        "streaming.add_batch_ms_p50": pct(d("addBatch"), 50),
        "streaming.commit_ms_p50": pct(commit, 50),
        "streaming.triggers": len(trig) / restarts,
        "streaming.rows_per_trigger": pct([p["numInputRows"] for p in trig], 50),
        "streaming.state_rows_total": pct([s.get("numRowsTotal", 0) for s in state], 50),
        "streaming.state_memory_bytes": pct([s.get("memoryUsedBytes", 0) for s in state], 50),
        "streaming.state_update_ms": pct([s.get("allUpdatesTimeMs", 0) for s in state], 50),
        "streaming.state_commit_ms": pct([s.get("commitTimeMs", 0) for s in state], 50),
        "streaming.state_rows_dropped_late": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in state
        ),
    }


def run_catchup(spark, jvm, args) -> dict:
    objects, nodes = dims(spark)
    spool = os.path.join(args.work, "spool")
    with open(os.path.join(spool, "_lines")) as fh:
        lines = int(fh.read())
    own = os.path.join(args.work, args.tag)  # this process's sink and checkpoints
    # Untimed warm-up on the same backlog: the first streaming query of a
    # session pays state store, codegen and Python worker start-up, and the
    # first full-size drain still runs slower while the JIT settles.
    drain(spark, spool, objects, nodes,
          os.path.join(own, "out-warm"), os.path.join(own, "ckpt-warm"))

    import k8stream_spark.io.sinks as sinks_mod
    import k8stream_spark.streaming.pipeline as pipeline_mod

    io_t = {k: Timer() for k in ("sink", "upload", "serialize", "gzip")}
    upload_wrap = sink_wrap = None
    originals = pipeline_mod.ndjson_bytes, sinks_mod.gzip_bytes
    if args.trace:
        pipeline_mod.ndjson_bytes = io_t["serialize"].wrap(pipeline_mod.ndjson_bytes, True)
        sinks_mod.gzip_bytes = io_t["gzip"].wrap(sinks_mod.gzip_bytes, True)
        upload_wrap = io_t["upload"].wrap
        sink_wrap = io_t["sink"].wrap

    gc0 = jvm.gc_ms()
    jvm.reset_heap_peak()
    results = []
    least = 1 if args.trace else MIN_RESTARTS
    t0 = time.perf_counter()
    while len(results) < least or time.perf_counter() - t0 < args.seconds:
        i = len(results)
        results.append(
            drain(spark, spool, objects, nodes, os.path.join(own, f"out-{i}"),
                  os.path.join(own, f"ckpt-{i}"), upload_wrap, sink_wrap)
        )
    gc_ms, heap_mb = jvm.gc_ms() - gc0, jvm.heap_peak_mb()

    # Correctness, outside the timed interval.
    want = expected_records(spark, spool, objects, nodes)
    attempted = failed = 0
    for i in range(len(results)):
        got = sink_records(os.path.join(own, f"out-{i}"))
        attempted += sum(want.values())
        failed += sum((want - got).values()) + sum((got - want).values())

    # The fastest restart counts.  Load from other guests of a shared host
    # and a JIT still settling after the first drain only ever slow a
    # restart.  In sets of ten runs drawn from twenty on a 4-core VM, the
    # spread (interquartile range over median) of the median restart was
    # above 0.24 in one set in ten, that of the fastest above 0.17 in one
    # in ten.  Every restart's seconds stay in the validity record.
    best_s, best_lags, _ = min(results, key=lambda r: r[0])
    m = {
        "throughput_per_s": lines / best_s,
        "latency_p50_s": pct(best_lags, 50),
        "latency_p90_s": pct(best_lags, 90),
        "events_per_s": lines / best_s,
        "drain_s": [r[0] for r in results],
        "session.gc_ms": gc_ms,
        "session.heap_used_peak_mb": heap_mb,
    }
    if args.trace:
        # Tracing overhead: one more restart with the wrappers removed.
        pipeline_mod.ndjson_bytes, sinks_mod.gzip_bytes = originals
        untraced_s = drain(spark, spool, objects, nodes, os.path.join(own, "out-untraced"),
                           os.path.join(own, "ckpt-untraced"))[0]
        m["trace.overhead_share"] = best_s / untraced_s - 1.0
        n = len(results)
        m.update(progress_metrics([p for r in results for p in r[2]], n))
        m["io.sink_s"] = io_t["sink"].s / n
        m["io.serialize_s"] = io_t["serialize"].s / n
        m["io.gzip_s"] = io_t["gzip"].s / n
        m["io.upload_s"] = io_t["upload"].s / n
        m["io.fetch_s"] = max(0.0, m["io.sink_s"] - m["io.serialize_s"]
                              - m["io.gzip_s"] - m["io.upload_s"])
        m["io.flushes"] = io_t["gzip"].calls / n
        m["io.bytes_ndjson"] = io_t["serialize"].bytes / n
        m["io.bytes_gz"] = io_t["gzip"].bytes / n
        m["sources.read_s"] = source_read_s(spark, spool, os.path.join(own, "ckpt-src"))
        m.update(ops_prefix_times(spark, spool, objects, nodes))
        m["baseline.local1_events_per_s"] = lines / local1_drain_s(spark, spool, own)
    return {"attempted": attempted, "failed": failed, "metrics": m}


def local1_drain_s(spark, spool, own) -> float:
    """The single-threaded baseline: the same restart on a ``local[1]``
    context, started in this JVM after the measured one stopped, so JIT
    and codegen are already warm."""
    from k8stream_spark.session import get_spark

    spark.stop()
    spark = get_spark("perfbench-local1", master="local[1]")
    objects, nodes = dims(spark)
    seconds = drain(spark, spool, objects, nodes, os.path.join(own, "out-l1"),
                    os.path.join(own, "ckpt-l1"))[0]
    spark.stop()
    return seconds


# -- analytics_dedup -------------------------------------------------------


def run_analytics(spark, jvm, args) -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")) as fh:
        digests = json.load(fh)
    sf = os.path.join(os.path.dirname(args.work), "fixtures")
    qs = args.queries
    sc = spark.sparkContext
    persistent = sc._jsc.getPersistentRDDs

    def run_one(tag: str, name: str):
        sc.setJobGroup(f"{tag}:{name}:build", name)
        t0 = time.perf_counter()
        df = qs[name](spark, sf)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{tag}:{name}:action", name)
        pdf = df.toPandas()
        t2 = time.perf_counter()
        log(f"{tag} {name} build {t1 - t0:.2f}s action {t2 - t1:.2f}s")
        left = persistent().size()
        spark.catalog.clearCache()
        return pdf, t1 - t0, t2 - t1, left

    # No warm-up pass: the first pass of a fresh session is timed, JIT,
    # codegen and Python worker start-up included, as a batch job pays them.
    outputs = []
    gc0 = jvm.gc_ms()
    jvm.reset_heap_peak()
    passes, lat, build, action, left = [], [], [], [], []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < args.seconds:
        p0 = time.perf_counter()
        for name in DEDUP_QUERIES:
            pdf, b, a, n_left = run_one(f"p{len(passes)}", name)
            outputs.append((name, pdf))
            lat.append((name, b + a))
            build.append(b)
            action.append(a)
            left.append(n_left)
        passes.append(time.perf_counter() - p0)
    gc_ms, heap_mb = jvm.gc_ms() - gc0, jvm.heap_peak_mb()

    # Correctness, outside the timed interval: digests of every result.
    failed = sum(
        checks.result_digest(pdf) != digests["queries"][name]["digest"]
        for name, pdf in outputs
    )
    n = len(passes)
    m = {
        "throughput_per_s": len(lat) / sum(passes),
        "latency_p50_s": pct([x for _, x in lat], 50),
        "latency_p90_s": pct([x for _, x in lat], 90),
        "batch_total_s": pct(passes, 50),
        "passes": n,
        "pass_s": passes,
        "session.gc_ms": gc_ms,
        "session.heap_used_peak_mb": heap_mb,
    }
    if args.trace:
        m["analytics.build_s"] = sum(build) / n
        m["analytics.action_s"] = sum(action) / n
        m["analytics.persisted_left"] = sum(left) / n
        for q in DEDUP_QUERIES:
            m[f"analytics.query_s.{q}"] = pct([x for name, x in lat if name == q], 50)
    return {"attempted": len(outputs), "failed": int(failed), "metrics": m}


WORKLOADS = {"stream_catchup": run_catchup, "analytics_dedup": run_analytics}


def warm_up(spark) -> None:
    """The set-up's one warm-up action: a shuffle, a broadcast join, an
    Arrow pandas UDF and an Arrow collect, so the start-up every query
    shares (Python workers, the common JIT paths) is paid here and not by
    whichever query happens to run first."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1.0

    keys = spark.range(97).withColumnRenamed("id", "k")
    (
        spark.range(1 << 16)
        .withColumn("k", F.col("id") % 97)
        .withColumn("v", plus_one(F.col("id").cast("double")))
        .groupBy("k")
        .agg(F.sum("v").alias("v"))
        .join(F.broadcast(keys), "k")
        .toPandas()
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--tag", required=True, help="names this process's own scratch files")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from k8stream_spark.session import get_spark

    # The event log feeds the per-query job, stage and task counts.
    extra = eventlog_dir = None
    if args.trace and args.workload == "analytics_dedup":
        eventlog_dir = os.path.join(args.work, args.tag, "eventlog")
        os.makedirs(eventlog_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    # analytics_dedup builds the entry module's query map while the JVM
    # starts and warms up: the map costs about 10 s of pure Python (its
    # rotation order parses the entry module's source), the JVM runs in its
    # own process, and one after the other would not fit the run's time
    # budget.  Set-up ends when both are done.
    args.queries, map_thread = {}, None
    if args.workload == "analytics_dedup":
        import __spark_entry__ as entry

        map_thread = threading.Thread(target=lambda: args.queries.update(entry.queries()))
        map_thread.start()
    spark = get_spark("perfbench", extra_conf=extra)
    t_session = time.perf_counter()
    warm_up(spark)
    if map_thread:
        map_thread.join()
    t_ready = time.perf_counter()
    result = {
        "setup_s": t_ready - T_START,
        "metrics": {
            "session.start_s": t_session - T_START,
            "session.warmup_s": t_ready - t_session,
        },
    }
    try:
        res = WORKLOADS[args.workload](spark, Jvm(spark), args)
    except Exception as exc:  # a failed workload still reports
        print(f"workload failed: {type(exc).__name__}: {exc}", file=sys.stderr)
        res = {"attempted": 1, "failed": 1, "metrics": {}, "error": repr(exc)}
    res["metrics"].update(result["metrics"])
    result.update(res)
    spark.stop()
    if eventlog_dir:
        import eventlog

        # Complete once the context has stopped; one context, one file.
        for path in glob.glob(os.path.join(eventlog_dir, "*")):
            result["eventlog"] = eventlog.fold(path)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
