"""W4 — the streaming binding: the reference's ingest loop
(reference flush.go:19-30, main.go:73-94) as one Structured Streaming
query, assembled by ``run_pipeline``.

    readStream(k8s-event JSON) → eligibility filter (P1-P5)
      → watermarked dedup (D1) → stream-static broadcast joins (J1-J3)
      → L9Event projection (P6)
      [∪ readStream(k8s-service JSON) → P1/P2/P4 → D2 → P10]
      → foreachBatch → N-or-T rechunk → sink

Batch/stream symmetry (SURVEY.md §7.1): the transformation functions are
the exact same ``ops.*`` functions the batch oracle checks — this module
only binds them to ``readStream`` and a sink.

Scale posture: the static dims are re-read every micro-batch (the
reference's 3600 s cache TTL analog); dedup state lives in the RocksDB
state store (session.py).  The reference-parity sink
(``sink_foreach_batch``) fetches each micro-batch with one ``collect``
and slices it into ``batch_size``-row NDJSON flushes — the count half of
W1; Spark's trigger covers the time half.  ``distributed_json_sink`` is
the scale sink: every partition writes through the JVM JSON writer.
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from k8stream_spark.io.ndjson import ndjson_bytes
from k8stream_spark.io.sinks import Flusher
from k8stream_spark.ops import dedup, filters, joins
from k8stream_spark.schemas import K8S_EVENT_SCHEMA, K8S_SERVICE_SCHEMA


def _source_stream(
    spark: SparkSession,
    source_dir: str,
    kind: str,
    source_format: str,
    resync_interval: int,
) -> DataFrame:
    """S1/S2 — the k8s-event (``kind="event"``) or k8s-service
    (``kind="service"``) stream; services get their own informer because
    their changes do not surface on the events interface (reference
    main.go:82-86).  ``source_format="files"`` reads the
    JSON-lines directory through Spark's file source; ``"informer"`` reads
    it through the custom ``k8s_informer`` DataSourceStreamReader
    (sources/informer.py), which models the reference's LIST→WATCH→RESYNC
    contract (main.go:77-94, resync config.go:19-23).  Both give the same
    schema and downstream plan."""
    if source_format == "informer":
        from k8stream_spark.sources.informer import informer_stream

        return informer_stream(
            spark, source_dir, kind=kind, resync_interval=resync_interval
        )
    schema = K8S_SERVICE_SCHEMA if kind == "service" else K8S_EVENT_SCHEMA
    return spark.readStream.schema(schema).json(source_dir)


def transform_services(
    services: DataFrame,
    namespaces: Sequence[str] = (),
) -> DataFrame:
    """The streaming service-side hot path (reference handler.go:82-120):
    eligibility (P1/P2/P4) → version dedup (D2) → L9Event synthesis (P10).

    The dedup is dropDuplicatesWithinWatermark on (uid, resource_version):
    the reference's RUNTIME behavior (its cache key is ``{uid}-{rv}``,
    handler.go:96-97, so only exact repeats ever hit the ``>=`` branch).
    Works under append output mode.  The ``>=`` comparison as written
    (handler.go:111) is ``ops.dedup.keep_latest_version``, in batch only.
    """
    from pyspark.sql import functions as F

    from k8stream_spark.ops import project as opsproject

    eligible = filters.eligible_services(services, namespaces=namespaces)
    # the synthetic wall-clock arrival time bounds the dedup state
    deduped = (
        eligible.withColumn("__arrival", F.current_timestamp())
        .withWatermark("__arrival", "1 hour")
        .dropDuplicatesWithinWatermark(["uid", "resource_version"])
        .drop("__arrival")
    )
    # Keep labels/annotations: the reference stamps service L9 events with
    # them (event_service.go:72-112) and the event side of union_streams
    # carries the same map<string,string> columns, so they align by name.
    return opsproject.service_event_synthesis(deduped)


def transform_events(
    events: DataFrame,
    objects: DataFrame,
    nodes: DataFrame,
    namespaces: Sequence[str] = (),
    reasons: Sequence[str] = (),
    streaming_dedup: bool = True,
) -> DataFrame:
    """The reference hot path (SURVEY.md §3.1) as one declarative plan.
    Works identically on a batch frame (streaming_dedup=False → window
    dedup) and a streaming frame."""
    eligible = filters.eligible_events(
        events, namespaces=namespaces, reasons=reasons
    )
    if streaming_dedup:
        deduped = dedup.dedup_streaming(eligible, key="uid", ts_col="creation_ts")
    else:
        # message (not ref_uid, which is constant within a uid partition)
        # breaks same-timestamp ties deterministically.
        deduped = dedup.dedup_first_seen(
            eligible, keys=["uid"], order_by=["creation_ts", "message"]
        )
    enriched = joins.enrich_involved_object(deduped, objects)
    enriched = joins.node_addresses(enriched, nodes)
    enriched = joins.conditional_pod_enrich(enriched)
    return project_enriched_l9(enriched)


def project_enriched_l9(enriched: DataFrame) -> DataFrame:
    """P6 over the enriched frame: the L9Event fields of
    ``ops.project.l9event_projection``, then the joined object, node and
    pod fields, then ``version`` — the sink's record layout."""
    from pyspark.sql import functions as F

    from k8stream_spark import L9_VERSION
    from k8stream_spark.ops import project as opsproject

    return enriched.select(
        *opsproject._l9event_columns("uid", "creation_ts"),
        F.col("obj_uid").alias("object_uid"),
        F.col("obj_labels").alias("labels"),
        F.col("obj_annotations").alias("annotations"),
        F.col("address"),
        F.col("pod_uid"),
        F.col("pod_name"),
        F.col("pod_namespace"),
        F.col("pod_ip"),
        F.col("pod_host_ip"),
        F.col("pod_start_time"),
        F.lit(L9_VERSION).alias("version"),
    )


def sink_foreach_batch(
    flusher: Flusher, uid: str, batch_size: int = 10000
):
    """foreachBatch function: rechunk the micro-batch into reference-sized
    flush units (the count half of W1) and hand each to the Flusher as
    NDJSON — one artifact per chunk, named by a nanosecond ident (W2).

    The fetch is one ``collect``: one Spark job runs all of the batch's
    partitions in parallel and returns rows in partition order.  The
    driver holds the whole micro-batch at once.

    NOTE on scale: this driver-side path exists for reference-parity
    sinks (one named object per batch).  The throughput path at 100 TB is
    ``batch_df.write.json(path)`` — fully distributed — which callers get
    by passing ``distributed_json_sink`` instead.
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        rows = [r.asDict(recursive=True) for r in batch_df.collect()]
        for i in range(0, len(rows), batch_size):
            chunk = rows[i : i + batch_size]
            flusher.flush(uid, time.time_ns(), ndjson_bytes(chunk))

    return fn


def near_dup_gate_sink(
    ref_docs: DataFrame,
    sink_fn,
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
):
    """Continuous-ingestion NEAR-dup gate — the foreachBatch binding the
    ``incremental_exact_filter`` docstring defers to: each micro-batch
    is one crawl round audited by the batch operator
    ``analytics.dedup.incremental_dedup`` (new-batch × reference-corpus
    banded LSH join; within-stream dedup remains the separate
    ``dedup_streaming`` stage, as in the exact document gate).

    The reference corpus artifacts — the minhash signature frame and
    the md5 set — are computed ONCE here and reused by every trigger
    (the persist-once-per-corpus-version contract from the
    ``incremental_dedup`` docstring): at 100 TB re-shingling the corpus
    per micro-batch would dwarf the batch itself.  Per-doc audit rows
    are independent across new docs (each is judged against the
    reference only), so the union of per-trigger audits equals the
    one-shot batch audit regardless of how the stream is micro-batched
    — the batch/stream symmetry contract, pinned by pytest.

    ``sink_fn(audit_df, batch_id)`` receives the full audit frame
    (doc_id, is_exact_dup, near_dup_of, max_jaccard, kept); filter on
    ``kept`` for the survivor stream.  Returns the foreachBatch fn.
    """
    from k8stream_spark.analytics.dedup import (
        incremental_dedup,
        minhash_band_table,
        minhash_signature,
    )
    from pyspark.sql import functions as F

    # Prune the shingle strings before persisting — the gate only reads
    # (doc_id, __sh64, sig); see the matching prune in incremental_dedup.
    # _spread: a single-file local reference would otherwise compute
    # every signature on one core (conditional — no exchange when the
    # corpus already arrives partitioned).
    from k8stream_spark.analytics.similarity import _spread

    ref_sigs = minhash_signature(
        _spread(ref_docs, "doc_id"), text_col, num_hashes, shingle_n
    ).select("doc_id", "__sh64", "sig").persist()
    ref_sigs.count()
    ref_hashes = (
        ref_docs.select(F.md5(F.col(text_col)).alias("__h"))
        .distinct()
        .persist()
    )
    ref_hashes.count()
    # Banding is per-corpus-version too: recomputing the 32-band
    # explode + xxhash over the whole reference every micro-batch would
    # make the banding, not the batch, the per-trigger cost.
    ref_bands = minhash_band_table(
        ref_sigs, "ref_id", num_hashes, bands
    ).persist()
    ref_bands.count()

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        audited = incremental_dedup(
            batch_df,
            ref_docs,
            text_col=text_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            ref_sigs=ref_sigs,
            ref_hashes=ref_hashes,
            ref_bands=ref_bands,
            # A micro-batch is tiny next to the corpus: broadcast the
            # new side so the reference never shuffles per trigger.
            broadcast_new=True,
        )
        sink_fn(audited, batch_id)

    return fn


def distributed_json_sink(base_path: str):
    """The scale sink: every partition writes in parallel through the JVM
    JSON writer, gzipped; one directory per micro-batch."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").option("compression", "gzip").json(
            f"{base_path}/batch={batch_id}"
        )

    return fn


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    objects: DataFrame,
    nodes: DataFrame,
    sink_fn,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    namespaces: Sequence[str] = (),
    reasons: Sequence[str] = (),
    source_format: str = "files",
    resync_interval: int = 0,
    service_source_dir: str | None = None,
):
    """Assemble and start the streaming query (reference main.go:73-94).
    Returns the StreamingQuery; callers own ``awaitTermination``/``stop``
    (the reference's trapSignal, main.go:96-112).

    With ``service_source_dir`` the service stream's L9 events union into
    the event stream: the reference's two informers feed one channel
    (main.go:84-90), so here they are one query with one sink and one
    checkpoint.  ``resync_interval`` (informer source only) enables the
    periodic re-list, reference default 120 s (config.go:8).
    ``available_now`` wins over ``trigger_seconds``; with the informer
    source it falls back to a single micro-batch (the Python source does
    not support Trigger.AvailableNow), so a LIST is one batch."""
    events = _source_stream(
        spark, source_dir, "event", source_format, resync_interval
    )
    l9 = transform_events(
        events, objects, nodes, namespaces=namespaces, reasons=reasons
    )
    if service_source_dir is not None:
        services = _source_stream(
            spark, service_source_dir, "service", source_format,
            resync_interval,
        )
        l9 = joins.union_streams(
            l9, transform_services(services, namespaces=namespaces)
        )
    writer = (
        l9.writeStream.outputMode("append")
        .foreachBatch(sink_fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
