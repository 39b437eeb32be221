"""W4 streaming binding: the full pipeline over a file stream with
availableNow trigger — eligibility filter, watermarked dedup,
stream-static enrichment joins, L9 projection, foreachBatch sink."""

from __future__ import annotations

import gzip
import json
import os

from k8stream_spark.io.sinks import MemorySink
from k8stream_spark.streaming.pipeline import (
    run_pipeline,
    sink_foreach_batch,
)


L9_ENRICHED_FIELDS = [
    "id", "timestamp", "component", "host", "message", "namespace",
    "reason", "reference_uid", "reference_namespace", "reference_name",
    "reference_kind", "reference_version", "object_uid", "labels",
    "annotations", "address", "pod_uid", "pod_name", "pod_namespace",
    "pod_ip", "pod_host_ip", "pod_start_time", "version",
]


def _write_events(path: str) -> None:
    events = [
        dict(uid="e1", creation_ts="2024-01-01T00:00:00", namespace="default",
             reason="Scheduled", message="m1", source_component="sched",
             source_host="node-a", ref_uid="o1", ref_name="pod-1",
             ref_namespace="default", ref_kind="Pod", ref_api_version="v1"),
        dict(uid="e1", creation_ts="2024-01-01T00:00:05", namespace="default",
             reason="Scheduled", message="dup", source_component="sched",
             source_host="node-a", ref_uid="o1", ref_name="pod-1",
             ref_namespace="default", ref_kind="Pod", ref_api_version="v1"),
        dict(uid="e2", creation_ts="2024-01-01T00:00:01", namespace="kube-system",
             reason="Pulled", message="sys", source_component="kubelet",
             source_host="node-a", ref_uid="o1", ref_name="pod-1",
             ref_namespace="kube-system", ref_kind="Pod", ref_api_version="v1"),
        dict(uid="e3", creation_ts="2024-01-01T00:00:02", namespace="prod",
             reason="Created", message="m3", source_component="kubelet",
             source_host="", ref_uid="missing", ref_name="x",
             ref_namespace="prod", ref_kind="Deployment", ref_api_version="v1"),
    ]
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "events.json"), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_streaming_pipeline_end_to_end(spark, objects_df, nodes_df, tmp_path):
    src = str(tmp_path / "src")
    _write_events(src)
    sink = MemorySink()
    q = run_pipeline(
        spark,
        src,
        objects_df,
        nodes_df,
        sink_fn=sink_foreach_batch(sink, uid="test-run"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = []
    for data in sink.batches.values():
        rows += [json.loads(l) for l in data.decode().splitlines()]
    by_id = {r["id"]: r for r in rows}

    # The sunk record's key order is project_enriched_l9's layout.
    for r in rows:
        assert list(r) == L9_ENRICHED_FIELDS
    assert set(by_id) == {"e1", "e3"}  # e2 filtered (kube-system), dup dropped
    assert by_id["e1"]["message"] == "m1"  # first-seen wins
    assert by_id["e1"]["labels"] == {"app": "web"}  # J1 enrichment
    assert by_id["e1"]["address"] == ["10.1.1.1", "fe80::1"]  # J2
    assert by_id["e1"]["pod_name"] == "pod-1"  # J3
    assert by_id["e3"]["address"] == []  # empty host → empty array
    assert by_id["e3"]["object_uid"] is None  # unmatched ref stays null
    assert by_id["e1"]["version"] == "0.0.5"


def test_streaming_distributed_sink(spark, objects_df, nodes_df, tmp_path):
    from k8stream_spark.streaming.pipeline import distributed_json_sink

    src = str(tmp_path / "src2")
    _write_events(src)
    out = str(tmp_path / "out")
    q = run_pipeline(
        spark,
        src,
        objects_df,
        nodes_df,
        sink_fn=distributed_json_sink(out),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        available_now=True,
    )
    q.awaitTermination(120)

    rows = []
    for root, _, files in os.walk(out):
        for fn in files:
            if fn.endswith(".json.gz"):
                with gzip.open(os.path.join(root, fn), "rt") as f:
                    rows += [json.loads(l) for l in f]
    assert {r["id"] for r in rows} == {"e1", "e3"}


def _event(uid: str, second: int) -> dict:
    return dict(uid=uid, creation_ts=f"2024-01-01T00:00:{second:02d}",
                namespace="default", reason="Scheduled", message=uid,
                source_component="sched", source_host="node-a", ref_uid="o1",
                ref_name="pod-1", ref_namespace="default", ref_kind="Pod",
                ref_api_version="v1")


def _write_spool(src, name: str, events: list[dict]) -> None:
    (src / name).write_text("".join(json.dumps(e) + "\n" for e in events))


def _dedup_available_now(spark, src, ckpt: str) -> tuple[list[str], set[int]]:
    """One availableNow run of the streaming uid dedup over ``src``;
    returns the uids it emitted and the state operator's partition
    counts."""
    from k8stream_spark.ops.dedup import dedup_streaming
    from k8stream_spark.schemas import K8S_EVENT_SCHEMA

    seen: list[str] = []
    stream = spark.readStream.schema(K8S_EVENT_SCHEMA).json(str(src))
    q = (
        dedup_streaming(stream, key="uid", ts_col="creation_ts")
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _bid: seen.extend(r.uid for r in df.collect()))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stored = {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    }
    return seen, stored


def test_dedup_state_keeps_checkpointed_partition_count(spark, tmp_path):
    """A restart under a different session partition count keeps the
    count stored in the checkpoint, and with it the dedup state."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run(partitions: int) -> tuple[list[str], set[int]]:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        return _dedup_available_now(spark, src, ckpt)

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        _write_spool(src, "a.json", [_event("e1", 0), _event("e2", 1)])
        first, first_parts = run(8)
        # e1 re-delivered
        _write_spool(src, "b.json", [_event("e1", 0), _event("e3", 2)])
        second, second_parts = run(4)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)

    assert sorted(first) == ["e1", "e2"]
    assert second == ["e3"]
    assert first_parts == second_parts == {8}


def test_dedup_state_survives_changelog_checkpointing_switch(spark, tmp_path):
    """A dedup checkpoint written with RocksDB changelog checkpointing
    off restarts with it on, and the reverse: in both directions the
    restored state still drops the re-delivered e1."""
    conf = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    before = spark.conf.get(conf)
    try:
        for first_on in (False, True):
            src = tmp_path / f"src_{first_on}"
            src.mkdir()
            ckpt = str(tmp_path / f"ckpt_{first_on}")
            _write_spool(src, "a.json", [_event("e1", 0), _event("e2", 1)])
            spark.conf.set(conf, str(first_on).lower())
            first, _ = _dedup_available_now(spark, src, ckpt)
            # e1 re-delivered
            _write_spool(src, "b.json", [_event("e1", 0), _event("e3", 2)])
            spark.conf.set(conf, str(not first_on).lower())
            second, _ = _dedup_available_now(spark, src, ckpt)
            assert sorted(first) == ["e1", "e2"]
            assert second == ["e3"]
            # the run with the setting on logged its commit as a changelog
            assert list((tmp_path / f"ckpt_{first_on}" / "state").rglob("*.changelog"))
    finally:
        spark.conf.set(conf, before)


def test_sink_foreach_batch_rechunks_in_partition_order(spark):
    """Flushes carry batch_size records each, the last one the rest, and
    concatenate to the batch's rows in partition order."""
    from k8stream_spark.io.ndjson import ndjson_bytes

    rows = [(i, f"n{i}", {"k": str(i)}) for i in range(10)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4),
        "id bigint, name string, labels map<string,string>",
    )
    assert df.rdd.getNumPartitions() == 4
    flushes: list[bytes] = []
    sink = MemorySink(on_fetch=lambda _ident, data: flushes.append(data))

    sink_foreach_batch(sink, uid="chunks", batch_size=3)(df, 0)

    assert [len(f.splitlines()) for f in flushes] == [3, 3, 3, 1]
    assert b"".join(flushes) == ndjson_bytes(
        dict(id=i, name=n, labels=m) for i, n, m in rows
    )


def _write_services(path: str) -> None:
    services = [
        dict(uid="s1", name="web", namespace="default", resource_version="10",
             selector={"app": "web"}, labels={}, annotations={},
             event_type="addedService"),
        dict(uid="s1", name="web", namespace="default", resource_version="10",
             selector={"app": "web"}, labels={}, annotations={},
             event_type="addedService"),  # D2 duplicate (same version)
        dict(uid="s2", name="kubernetes", namespace="default",
             resource_version="2", selector={}, labels={}, annotations={},
             event_type="addedService"),  # P4 drop
        dict(uid="s3", name="api", namespace="kube-system",
             resource_version="7", selector={}, labels={}, annotations={},
             event_type="updatedService"),  # P1 drop
    ]
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "services.json"), "w") as f:
        for s in services:
            f.write(json.dumps(s) + "\n")


def test_unified_pipeline_unions_both_streams(
    spark, objects_df, nodes_df, tmp_path
):
    ev_src = str(tmp_path / "ev_src")
    svc_src = str(tmp_path / "svc_src")
    _write_events(ev_src)
    _write_services(svc_src)
    sink = MemorySink()
    q = run_pipeline(
        spark,
        ev_src,
        objects_df,
        nodes_df,
        sink_fn=sink_foreach_batch(sink, uid="unified-run"),
        checkpoint_dir=str(tmp_path / "ckpt-unified"),
        available_now=True,
        service_source_dir=svc_src,
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = []
    for data in sink.batches.values():
        rows += [json.loads(l) for l in data.decode().splitlines()]
    by_id = {r["id"]: r for r in rows}

    # events e1/e3 (as in the event-only test) + service s1 exactly once
    # (dup dropped by D2); s2 (default service) and s3 (kube-system) gone
    assert set(by_id) == {"e1", "e3", "s1-10"}
    svc = by_id["s1-10"]
    assert svc["reference_kind"] == "Service"
    assert svc["reason"] == "addedService"
    assert svc["reference_version"] == "10"
    # event rows keep their enrichment through the union
    assert by_id["e1"]["pod_name"] == "pod-1"


def test_streaming_windowed_aggregation_with_watermark(spark, tmp_path):
    """Event-time tumbling-window aggregation under a watermark — the
    streaming twin of events_hourly_type_counts: counts per (window,
    reason) arrive through foreachBatch in update mode."""
    from pyspark.sql import functions as F

    from k8stream_spark.schemas import K8S_EVENT_SCHEMA

    src = str(tmp_path / "src")
    _write_events(src)

    stream = spark.readStream.schema(K8S_EVENT_SCHEMA).json(src)
    agg = (
        stream.withColumn("ts", F.col("creation_ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {}

    def collect(batch_df, _bid):
        for r in batch_df.collect():
            got[r.reason] = got.get(r.reason, 0) + r.n

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt-agg"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # fixture: Scheduled x2 (e1 + dup), Pulled x1, Created x1 — the agg
    # sees raw events (no dedup upstream of it here)
    assert got == {"Scheduled": 2, "Pulled": 1, "Created": 1}


def test_unified_pipeline_on_informer_sources(
    spark, objects_df, nodes_df, tmp_path
):
    """Both streams of the pipeline read through the custom
    k8s_informer source (event AND service kinds) — same output as the
    file-source binding."""
    ev_src = str(tmp_path / "ev_src")
    svc_src = str(tmp_path / "svc_src")
    _write_events(ev_src)
    _write_services(svc_src)
    sink = MemorySink()
    q = run_pipeline(
        spark,
        ev_src,
        objects_df,
        nodes_df,
        sink_fn=sink_foreach_batch(sink, uid="unified-informer"),
        checkpoint_dir=str(tmp_path / "ckpt-ui"),
        available_now=True,
        source_format="informer",
        service_source_dir=svc_src,
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = []
    for data in sink.batches.values():
        rows += [json.loads(l) for l in data.decode().splitlines()]
    assert {r["id"] for r in rows} == {"e1", "e3", "s1-10"}


def test_semantic_dedup_streaming_twin(spark, tmp_path):
    """Streaming binding for semantic dedup: embeddings arrive as a file
    stream and each micro-batch runs the batch ``semantic_dedup``
    operator inside ``foreachBatch`` — the documented Structured
    Streaming pattern for operators whose semantics are batch-global
    (quantizer training + within-cell pairing need the whole batch).
    The streamed result must equal the batch run on the same vectors."""
    import json as _json

    from k8stream_spark.analytics import similarity

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.999, 0.01, 0.0]),   # dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 1.0]),
    ]
    src = str(tmp_path / "emb_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "emb.json"), "w") as f:
        for vid, emb in vecs:
            f.write(_json.dumps({"vec_id": vid, "embedding": emb}) + "\n")

    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<double>"
    ).json(src)
    got = {}

    def dedup_batch(batch_df, _bid):
        if batch_df.isEmpty():
            return
        out = similarity.semantic_dedup(
            batch_df, threshold=0.95, dim=4, nlist=4
        )
        for r in out.collect():
            got[r.vec_id] = (r.kept, r.dup_of)

    q = (
        stream.writeStream.foreachBatch(dedup_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt-sd"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    batch_df = spark.createDataFrame(
        vecs, "vec_id bigint, embedding array<double>"
    )
    expected = {
        r.vec_id: (r.kept, r.dup_of)
        for r in similarity.semantic_dedup(
            batch_df, threshold=0.95, dim=4, nlist=4
        ).collect()
    }
    assert got == expected
    assert got[1] == (False, 0) and got[3] == (False, 2)
    for vid in (0, 2, 4, 5):
        assert got[vid] == (True, None)


def test_c4_quality_filters_on_streaming_frame(spark, tmp_path):
    """c4_quality_filters is a stateless codegen projection, so it
    composes DIRECTLY with a streaming frame (no foreachBatch wrapper
    needed) — the batch/stream symmetry the package is built on."""
    import json as _json

    from k8stream_spark.analytics.text import c4_quality_filters

    docs = [
        {"doc_id": 1, "text": " ".join(["word"] * 30)},
        {"doc_id": 2, "text": " ".join(["word"] * 10)},
        {"doc_id": 3, "text": " ".join(["a"] * 40)},
    ]
    src = str(tmp_path / "docs_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "docs.json"), "w") as f:
        for d in docs:
            f.write(_json.dumps(d) + "\n")

    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    flagged = c4_quality_filters(stream)
    assert flagged.isStreaming
    got = {}

    def collect(batch_df, _bid):
        for r in batch_df.collect():
            got[r.doc_id] = r.keep

    q = (
        flagged.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt-c4"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert got == {1: True, 2: False, 3: False}


def test_llm_ingest_streaming_pipeline(spark, tmp_path):
    """LLM-ingest in streaming form: one streaming query composes the
    batch operators end-to-end — C4 quality gate → exact-dedup by
    content fingerprint (dropDuplicatesWithinWatermark) → token count.
    The batch/stream symmetry claim, demonstrated on the LLM layer."""
    import json as _json

    from pyspark.sql import functions as F

    good = " ".join(["word"] * 30)
    docs = [
        {"doc_id": 1, "text": good},
        {"doc_id": 2, "text": good},                      # exact dup of 1
        {"doc_id": 3, "text": " ".join(["word"] * 35)},   # unique, passes
        {"doc_id": 4, "text": " ".join(["word"] * 10)},   # fails min_words
    ]
    src = str(tmp_path / "ingest_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "docs.json"), "w") as f:
        for d in docs:
            f.write(_json.dumps(d) + "\n")

    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    # Quality gate inline (one pass), then dedup on the content hash
    # with an arrival-time watermark bounding the streaming state.
    gated = (
        stream.where(F.size(F.split("text", " ")) >= 30)
        .withColumn("__fp", F.md5("text"))
        .withColumn("__arrival", F.current_timestamp())
        .withWatermark("__arrival", "1 hour")
        .dropDuplicatesWithinWatermark(["__fp"])
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    )
    got = {}

    def collect(batch_df, _bid):
        for r in batch_df.collect():
            got[r.doc_id] = r.n_tokens

    q = (
        gated.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt-ingest"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # doc 4 gated out; exactly one of the duplicate pair {1, 2} survives
    assert set(got) & {1, 2} and len(set(got) & {1, 2}) == 1
    assert 3 in got and got[3] == 35
    assert 4 not in got


def test_rag_ingest_streaming_chunking(spark, tmp_path):
    """RAG-ingest in streaming form: hashed-linear quality gate →
    overlapping chunking, both stateless codegen projections, composed
    directly on a streaming frame — and the streamed chunks are
    IDENTICAL to running the same operators in batch (the batch/stream
    symmetry claim)."""
    import json as _json

    from pyspark.sql import functions as F

    from k8stream_spark.analytics.text import (
        chunk_overlap,
        quality_classifier_score,
    )

    docs = [
        {"doc_id": i, "text": " ".join(f"w{i}t{j}" for j in range(n))}
        for i, n in ((1, 10), (2, 3), (3, 7))
    ]
    src = str(tmp_path / "rag_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "docs.json"), "w") as f:
        for d in docs:
            f.write(_json.dumps(d) + "\n")

    batch_df = spark.createDataFrame(
        [(d["doc_id"], d["text"]) for d in docs],
        "doc_id bigint, text string",
    )
    keep_ids = {
        r.doc_id
        for r in quality_classifier_score(batch_df).collect()
        if r.keep
    }
    expected = {
        (r.doc_id, r.chunk_id, r.chunk_text)
        for r in chunk_overlap(
            batch_df.where(F.col("doc_id").isin(keep_ids)),
            chunk_tokens=4,
            stride=3,
        ).collect()
    }

    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    # passthrough carries the text through the gate — a single stateless
    # projection chain, no stream-stream re-join (which would need
    # watermarks on both sides)
    gated = quality_classifier_score(stream, passthrough=("text",)).where(
        "keep"
    )
    chunks = chunk_overlap(gated, chunk_tokens=4, stride=3)
    assert chunks.isStreaming
    got = set()

    def collect(batch, _bid):
        for r in batch.collect():
            got.add((r.doc_id, r.chunk_id, r.chunk_text))

    q = (
        chunks.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt-rag"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert got == expected and len(expected) > 0


def test_incremental_exact_filter_stream_static(spark, tmp_path):
    """Continuous-ingestion dedup in streaming form: the exact path of
    incremental_dedup runs unchanged as a stream-static anti-join —
    new docs arrive as a stream, the already-kept corpus is the static
    side, and only unseen content reaches the sink."""
    import json as _json

    from k8stream_spark.analytics.dedup import incremental_exact_filter

    known = "alpha beta gamma delta"
    docs = [
        {"doc_id": 10, "text": known},                 # already in corpus
        {"doc_id": 11, "text": "fresh words here"},    # new
        {"doc_id": 12, "text": known},                 # already in corpus
        {"doc_id": 13, "text": "more new content"},    # new
    ]
    src = str(tmp_path / "inc_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "docs.json"), "w") as f:
        for d in docs:
            f.write(_json.dumps(d) + "\n")

    ref = spark.createDataFrame(
        [(0, known), (1, "other corpus text")],
        "doc_id bigint, text string",
    )
    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    kept = incremental_exact_filter(stream, ref)

    got = []

    def collect(batch_df, _bid):
        got.extend(r.doc_id for r in batch_df.collect())

    q = (
        kept.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt-inc"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sorted(got) == [11, 13]


def test_near_dup_gate_streaming_matches_batch_audit(spark, tmp_path):
    """The LSH near-dup gate under foreachBatch: micro-batches audited
    against a fixed reference corpus produce, in union, exactly the
    one-shot batch incremental_dedup audit — per-doc rows are
    independent across new docs, so micro-batching cannot change them.
    Two spool files + maxFilesPerTrigger=1 force >=2 micro-batches so
    the per-trigger reuse of the reference artifacts is actually
    exercised."""
    import json as _json

    from k8stream_spark.analytics.dedup import incremental_dedup
    from k8stream_spark.streaming.pipeline import near_dup_gate_sink

    base = [f"w{i}" for i in range(30)]
    ref = spark.createDataFrame(
        [
            (0, " ".join(base)),
            (2, " ".join(f"r{i}" for i in range(30))),
        ],
        "doc_id bigint, text string",
    )
    new_rows = [
        (11, " ".join(base)),                        # exact dup of ref 0
        (13, " ".join(base + ["tail", "bits"])),     # near-dup of ref 0
        (15, " ".join(f"q{i}" for i in range(30))),  # unique
        (17, " ".join(f"z{i}" for i in range(25))),  # unique, 2nd batch
    ]
    src = str(tmp_path / "gate_src")
    os.makedirs(src, exist_ok=True)
    for fname, rows in (("a.json", new_rows[:2]), ("b.json", new_rows[2:])):
        with open(os.path.join(src, fname), "w") as f:
            for i, t in rows:
                f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    audits: list[tuple] = []
    batch_ids: set[int] = set()

    def collect(audit_df, bid):
        batch_ids.add(bid)
        audits.extend(
            (r.doc_id, r.is_exact_dup, r.near_dup_of, r.max_jaccard, r.kept)
            for r in audit_df.collect()
        )

    stream = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).json(src)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(near_dup_gate_sink(ref, collect))
        .option("checkpointLocation", str(tmp_path / "ckpt-gate"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert len(batch_ids) >= 2  # the reuse path ran more than once

    new = spark.createDataFrame(new_rows, "doc_id bigint, text string")
    want = {
        (r.doc_id, r.is_exact_dup, r.near_dup_of, r.max_jaccard, r.kept)
        for r in incremental_dedup(new, ref).collect()
    }
    assert set(audits) == want
    assert len(audits) == len(new_rows)


def test_session_window_agg_streaming_with_watermark(spark, tmp_path):
    """The native session_window operator runs in STREAMING with a
    watermark — the batch/stream symmetry claim for the sessionization
    layer: same operator (events.session_window_agg composes it in
    batch), same gap semantics, state bounded by the watermark."""
    import json as _json

    from pyspark.sql import functions as F

    base = "2024-01-01T00:{m:02d}:00.000Z"
    events = [
        # user 1: two events 5 min apart (one session), then a 40-min
        # gap (> the 30-min gap -> second session)
        {"user_id": 1, "ts": base.format(m=0)},
        {"user_id": 1, "ts": base.format(m=5)},
        {"user_id": 1, "ts": base.format(m=45)},
        # user 2: single event
        {"user_id": 2, "ts": base.format(m=10)},
    ]
    src = str(tmp_path / "sess_src")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "ev0.json"), "w") as f:
        for e in events:
            f.write(_json.dumps(e) + "\n")
    # Append-mode session aggregates emit only when the WATERMARK passes
    # the session end; the watermark advances between micro-batches.  A
    # second file with a far-future event forces a second batch whose
    # watermark (max ts - 2h) is past every session above — the flusher
    # session itself stays in state (never asserted).
    with open(os.path.join(src, "ev1.json"), "w") as f:
        f.write(_json.dumps({"user_id": 99, "ts": "2024-01-03T00:00:00.000Z"}) + "\n")

    stream = (
        spark.readStream.schema("user_id bigint, ts string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "2 hours")
    )
    sessions = (
        stream.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )
    got = []

    def collect(batch_df, _bid):
        got.extend((r.user_id, r.n_events) for r in batch_df.collect())

    q = (
        sessions.writeStream.outputMode("append")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt-sess"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    per_user = {}
    for uid, n in got:
        per_user.setdefault(uid, []).append(n)
    # user 1: two sessions (2 events, then 1); user 2: one session of 1
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]
