"""S1 production shape — the k8s_informer custom streaming DataSource
(sources/informer.py): LIST → WATCH → RESYNC contract from reference
main.go:77-94 / config.go:19-23, plus the full-pipeline E2E run producing
identical output to the file-source binding."""

from __future__ import annotations

import json
import os
import time

from k8stream_spark.io.sinks import MemorySink
from k8stream_spark.sources import informer
from k8stream_spark.sources.informer import (
    InformerStreamReader,
    _schema_for,
)
from k8stream_spark.streaming.pipeline import (
    run_pipeline,
    sink_foreach_batch,
)

from tests.test_streaming import _write_events


def _reader(path: str, resync: int = 0) -> InformerStreamReader:
    return InformerStreamReader(
        _schema_for("event"), {"path": path, "resyncinterval": str(resync)}
    )


def _rows(reader, parts):
    """Flatten read() output to row tuples — the reader yields Arrow
    RecordBatches on the fast path (all-string/ntz schemas) and plain
    tuples otherwise; tests assert on rows either way."""
    out = []
    for p in parts:
        for item in reader.read(p):
            if hasattr(item, "columns"):  # pyarrow.RecordBatch
                cols = [c.to_pylist() for c in item.columns]
                out += list(zip(*cols)) if cols else []
            else:
                out.append(item)
    return out


def test_offsets_list_watch(tmp_path):
    """Initial offset delivers the existing spool (LIST); appended files
    deliver only their new rows (WATCH); no change → no partitions."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": "e1"}) + "\n")
        f.write(json.dumps({"uid": "e2"}) + "\n")

    r = _reader(src)
    start = r.initialOffset()
    end1 = r.latestOffset()
    parts1 = r.partitions(start, end1)
    assert [row[0] for row in _rows(r, parts1)] == ["e1", "e2"]  # LIST

    assert r.partitions(end1, r.latestOffset()) == []  # no change

    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(json.dumps({"uid": "e3"}) + "\n")
    end2 = r.latestOffset()
    parts2 = r.partitions(end1, end2)
    assert [row[0] for row in _rows(r, parts2)] == ["e3"]  # WATCH only


def test_resync_redelivers_full_state(tmp_path):
    """After resyncInterval elapses the full known state re-delivers
    (informer OnUpdate refire) — at-least-once, resolved by D1/D2."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": "e1"}) + "\n")

    r = _reader(src, resync=1)
    start = r.initialOffset()
    end1 = r.latestOffset()
    # SET compare, not list: if this process gets descheduled for >1s
    # between the two offset calls the range itself crosses a resync
    # boundary and the re-list legitimately duplicates e1 —
    # at-least-once is the contract, D1/D2 resolve duplicates.
    got1 = [row[0] for row in _rows(r, r.partitions(start, end1))]
    assert set(got1) == {"e1"} and len(got1) >= 1

    time.sleep(1.1)
    end2 = r.latestOffset()
    # epoch-anchored generation: 1.1s at interval=1 crosses >=1 boundary
    assert end2["resync_gen"] > end1["resync_gen"]
    relist = r.partitions(end1, end2)
    got2 = [row[0] for row in _rows(r, relist)]
    assert set(got2) == {"e1"} and len(got2) >= 1  # re-delivered


def test_resync_generation_is_restart_safe(tmp_path):
    """A FRESH reader (simulating restart) still fires resync against a
    checkpointed offset from before the interval elapsed — the generation
    is wall-clock-derived, not reader-memory."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": "e1"}) + "\n")

    old_offset = _reader(src, resync=1).latestOffset()  # "checkpointed"
    time.sleep(1.1)
    fresh = _reader(src, resync=1)  # restart: brand-new reader instance
    end = fresh.latestOffset()
    assert end["resync_gen"] > old_offset["resync_gen"]
    relist = fresh.partitions(old_offset, end)
    got = [row[0] for row in _rows(fresh, relist)]
    # at-least-once across however many generations elapsed (set compare
    # for the same descheduling reason as test_resync_redelivers)
    assert set(got) == {"e1"} and len(got) >= 1


def test_partition_ranges_are_deterministic(tmp_path):
    """partitions(start, end) depends only on the offsets — replaying the
    same pair yields the same slices (checkpoint replay contract)."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(5):
            f.write(json.dumps({"uid": f"e{i}"}) + "\n")
    r = _reader(src)
    start, end = r.initialOffset(), r.latestOffset()
    p1 = r.partitions(start, end)
    p2 = r.partitions(start, end)
    assert [(p.path, p.start, p.end) for p in p1] == [
        (p.path, p.start, p.end) for p in p2
    ]


def test_informer_pipeline_end_to_end(spark, objects_df, nodes_df, tmp_path):
    """The full W4 pipeline over the informer source produces the same
    output as the file-source binding (test_streaming E2E twin)."""
    src = str(tmp_path / "src")
    _write_events(src)
    sink = MemorySink()
    q = run_pipeline(
        spark,
        src,
        objects_df,
        nodes_df,
        sink_fn=sink_foreach_batch(sink, uid="informer-run"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
        source_format="informer",
    )
    q.awaitTermination(120)
    assert not q.isActive

    rows = []
    for data in sink.batches.values():
        rows += [json.loads(line) for line in data.decode().splitlines()]
    by_id = {r["id"]: r for r in rows}

    assert set(by_id) == {"e1", "e3"}  # e2 filtered (kube-system), dup dropped
    assert by_id["e1"]["message"] == "m1"
    assert by_id["e1"]["labels"] == {"app": "web"}
    assert by_id["e1"]["address"] == ["10.1.1.1", "fe80::1"]
    assert by_id["e3"]["address"] == []


def test_permissive_skips_malformed_lines(tmp_path):
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": "e1"}) + "\n")
        f.write("{not json at all\n")
        f.write(json.dumps({"uid": "e2"}) + "\n")

    r = _reader(src)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert [row[0] for row in _rows(r, parts)] == ["e1", "e2"]


def test_row_fallback_through_spark_delivers_every_good_row(spark, tmp_path):
    """A partition the vectorized parse declines — one malformed line and
    one epoch-number ``creation_ts`` — reaches Spark as row tuples, which
    Spark's data source worker converts to Arrow itself: a real
    streaming query gets every good row, timestamps as naive UTC."""
    from k8stream_spark.sources.informer import informer_stream

    src = str(tmp_path / "spool")
    os.makedirs(src)
    iso = "2024-03-01T14:00:00+02:00"
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": "e1", "creation_ts": iso}) + "\n")
        f.write("{not json at all\n")
        f.write(json.dumps({"uid": "e2", "creation_ts": 1709294400}) + "\n")
    seen = []
    q = (
        informer_stream(spark, src)
        .writeStream.foreachBatch(
            lambda df, _bid: seen.extend(
                (r.uid, r.creation_ts)
                for r in df.select("uid", "creation_ts").collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    want = __import__("datetime").datetime(2024, 3, 1, 12, 0, 0)
    assert sorted(seen) == [("e1", want), ("e2", want)]


def test_shrunk_file_redelivers_new_content(tmp_path):
    """A spool file that shrinks (truncate/rotate-in-place) is new state:
    its content re-delivers from line 0 instead of being swallowed up to
    the stale checkpointed count."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    path = os.path.join(src, "a.json")
    with open(path, "w") as f:
        for i in range(5):
            f.write(json.dumps({"uid": f"old{i}"}) + "\n")

    r = _reader(src)
    end1 = r.latestOffset()
    assert [row[0] for row in _rows(r, r.partitions(r.initialOffset(), end1))] == [
        f"old{i}" for i in range(5)
    ]

    with open(path, "w") as f:  # rotate: replaced with 2 fresh rows
        f.write(json.dumps({"uid": "new0"}) + "\n")
        f.write(json.dumps({"uid": "new1"}) + "\n")
    end2 = r.latestOffset()
    assert [row[0] for row in _rows(r, r.partitions(end1, end2))] == [
        "new0",
        "new1",
    ]
    # and the offset settles: nothing re-delivers on the next trigger
    assert r.partitions(end2, r.latestOffset()) == []


def test_rotated_file_with_equal_or_more_lines_redelivers(tmp_path):
    """A rotation whose replacement reaches or EXCEEDS the old line count
    (busy spool) is caught by the file-identity signature — a pure count
    comparison would silently swallow the first old-count lines."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    path = os.path.join(src, "a.json")
    with open(path, "w") as f:
        for i in range(3):
            f.write(json.dumps({"uid": f"old{i}"}) + "\n")

    r = _reader(src)
    end1 = r.latestOffset()
    assert len(_rows(r, r.partitions(r.initialOffset(), end1))) == 3

    # rotate via rename-over (new inode), replacement has MORE lines
    tmp = os.path.join(src, "_a.json.tmp")  # "_" prefix: not listed
    with open(tmp, "w") as f:
        for i in range(5):
            f.write(json.dumps({"uid": f"new{i}"}) + "\n")
    os.replace(tmp, path)
    end2 = r.latestOffset()
    got = [row[0] for row in _rows(r, r.partitions(end1, end2))]
    assert got == [f"new{i}" for i in range(5)]  # from line 0, not 3
    assert r.partitions(end2, r.latestOffset()) == []  # settles

    # in-place rewrite, same inode, EQUAL count, different first line
    with open(path, "w") as f:
        for i in range(5):
            f.write(json.dumps({"uid": f"v3_{i}"}) + "\n")
    end3 = r.latestOffset()
    got = [row[0] for row in _rows(r, r.partitions(end2, end3))]
    assert got == [f"v3_{i}" for i in range(5)]


def test_legacy_count_only_offsets_still_work(tmp_path):
    """Checkpoints written before the identity signature store bare int
    counts — partitions() must accept them (append + shrink semantics)."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    path = os.path.join(src, "a.json")
    with open(path, "w") as f:
        for i in range(3):
            f.write(json.dumps({"uid": f"e{i}"}) + "\n")

    r = _reader(src)
    legacy = {"files": {path: 2}, "resync_gen": 0}  # pre-upgrade shape
    got = [row[0] for row in _rows(r, r.partitions(legacy, r.latestOffset()))]
    assert got == ["e2"]  # append path

    with open(path, "w") as f:
        f.write(json.dumps({"uid": "n0"}) + "\n")
    legacy = {"files": {path: 3}, "resync_gen": 0}
    got = [row[0] for row in _rows(r, r.partitions(legacy, r.latestOffset()))]
    assert got == ["n0"]  # shrink path


def test_timestamp_coercion_normalizes_to_naive_utc(tmp_path):
    """Epoch numbers and ISO strings — tz-aware ('Z' / '+02:00') or naive
    — all coerce to NAIVE UTC datetimes, matching the TimestampNTZ
    schema regardless of session timezone."""
    from k8stream_spark.sources.informer import _coerce

    want = __import__("datetime").datetime(2024, 3, 1, 12, 0, 0)
    assert _coerce(1709294400, "ts") == want
    assert _coerce(1709294400.0, "ts") == want
    assert _coerce("2024-03-01T12:00:00", "ts") == want
    assert _coerce("2024-03-01T12:00:00Z", "ts") == want
    assert _coerce("2024-03-01T14:00:00+02:00", "ts") == want
    assert _coerce(None, "ts") is None
    assert _coerce("left alone", "str") == "left alone"


def test_non_string_values_in_string_fields_coerce_to_json_text(tmp_path):
    """A syntactically valid line whose string-schema field holds a JSON
    number/bool/object must NOT kill the stream: the Arrow fast path
    builds pa.array(..., pa.string()) which raises ArrowInvalid on raw
    non-strings.  _coerce renders them as JSON text instead (5 → "5",
    true → "true", nested objects → their JSON string, which the
    downstream permissive from_json decode still parses)."""
    from k8stream_spark.sources.informer import _coerce

    assert _coerce(5, "str") == "5"
    assert _coerce(2.5, "str") == "2.5"
    assert _coerce(True, "str") == "true"
    assert _coerce({"app": "web"}, "str") == '{"app": "web"}'
    assert _coerce([1, 2], "str") == "[1, 2]"
    assert _coerce(None, "str") is None

    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": 123, "message": {"k": "v"}}) + "\n")
        f.write(json.dumps({"uid": "e2", "count": 7}) + "\n")

    r = _reader(src)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    rows = _rows(r, parts)  # must not raise ArrowInvalid
    assert [row[0] for row in rows] == ["123", "e2"]


def test_seek_misalignment_falls_back_to_line0_scan(tmp_path, monkeypatch):
    """A byte-offset checkpoint that lands mid-line (the rename-over
    race between latestOffset() and the executor task) must NOT shift
    rows off-by-one: the executor verifies the preceding byte is a
    newline and degrades to the line-0 skip-scan otherwise."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "big.json"), "w") as f:
        for i in range(3000):
            f.write(json.dumps({"uid": f"b{i:04d}"}) + "\n")
    monkeypatch.setattr(informer, "_ROWS_PER_PARTITION", 1024)
    r = InformerStreamReader(
        _schema_for("event"), {"path": src, "mintasks": "1"}
    )
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    seeked = [
        s
        for p in parts
        for s in (p.slices if hasattr(p, "slices") else [p])
        if getattr(s, "seek_row", 0) > 0
    ]
    assert seeked  # the split slices carry checkpoint annotations
    want = sorted(row[0] for row in _rows(r, parts))
    for s in seeked:
        s.seek_byte += 3  # now mid-line, as after a rename-over race
    got = sorted(row[0] for row in _rows(r, parts))
    assert got == want == sorted(f"b{i:04d}" for i in range(3000))


def test_repack_respects_parallelism_floor(tmp_path, monkeypatch):
    """_ROWS_PER_PARTITION is a CEILING, not the packing goal: with a
    minTasks floor, a batch with enough rows must spread over at least
    ~minTasks tasks instead of packing down to total/_ROWS_PER_PARTITION
    (measured 15% slower when 100k rows collapsed to 6 tasks on 32
    cores).  OFFSET_STRIDE (1024) bounds the effective target below."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    # 8 files x 1024 rows; a _ROWS_PER_PARTITION of 8192 would pack them
    # into ONE 8192-row task without the floor.
    for j in range(8):
        with open(os.path.join(src, f"f{j}.json"), "w") as f:
            for i in range(1024):
                f.write(json.dumps({"uid": f"{j}-{i}"}) + "\n")
    monkeypatch.setattr(informer, "_ROWS_PER_PARTITION", 8192)
    r = InformerStreamReader(
        _schema_for("event"), {"path": src, "mintasks": "4"}
    )
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    # effective target = min(8192, max(1024, 8192 // 4)) = 2048
    assert len(parts) >= 4
    sizes = []
    for p in parts:
        slices = p.slices if hasattr(p, "slices") else [p]
        sizes.append(sum(s.end - s.start for s in slices))
    assert all(s <= 2048 for s in sizes)
    assert sum(sizes) == 8192
    # the minTasks OPTION must actually steer the floor (not just the
    # default 64): minTasks=2 -> effective target min(8192, 8192//2) =
    # 4096, i.e. exactly 2 packed tasks; a regression to the default
    # would yield 8 tasks of 1024 and fail here
    r2 = InformerStreamReader(
        _schema_for("event"), {"path": src, "mintasks": "2"}
    )
    parts2 = r2.partitions(r2.initialOffset(), r2.latestOffset())
    assert len(parts2) == 2
    # the ceiling still splits: one oversized file alone must not
    # serialize on a single task either
    monkeypatch.setattr(informer, "_ROWS_PER_PARTITION", 1500)
    r1 = InformerStreamReader(
        _schema_for("event"), {"path": src, "mintasks": "1"}
    )
    parts1 = r1.partitions(r1.initialOffset(), r1.latestOffset())
    for p in parts1:
        slices = p.slices if hasattr(p, "slices") else [p]
        for s in slices:
            assert s.end - s.start <= 1500


def test_repack_cuts_equal_groups_across_file_boundaries(tmp_path):
    """A 5,000/5,000/2,000-row spool with minTasks=4 is cut, in range
    order, into exactly 4 groups of 3,000 rows, two of which span a file
    boundary; the delivered rows are the spool's lines in order."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    want = []
    for name, n in (("a.json", 5000), ("b.json", 5000), ("c.json", 2000)):
        with open(os.path.join(src, name), "w") as f:
            for i in range(n):
                uid = f"{name[0]}{i}"
                want.append(uid)
                f.write(json.dumps({"uid": uid}) + "\n")
    r = InformerStreamReader(
        _schema_for("event"), {"path": src, "mintasks": "4"}
    )
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    groups = [p.slices if hasattr(p, "slices") else [p] for p in parts]
    assert [sum(s.end - s.start for s in g) for g in groups] == [3000] * 4
    assert [
        [(os.path.basename(s.path), s.start, s.end) for s in g]
        for g in groups
    ] == [
        [("a.json", 0, 3000)],
        [("a.json", 3000, 5000), ("b.json", 0, 1000)],
        [("b.json", 1000, 4000)],
        [("b.json", 4000, 5000), ("c.json", 0, 2000)],
    ]
    assert [row[0] for row in _rows(r, parts)] == want


def test_informer_stream_batch_has_one_partition_per_core(spark, tmp_path):
    """``informer_stream`` sizes a micro-batch's read to the session's
    defaultParallelism: 2,048 rows per core arrive in one task per core,
    not one per OFFSET_STRIDE (1,024) rows."""
    from k8stream_spark.sources.informer import informer_stream

    cores = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(2048 * cores):
            f.write(json.dumps({"uid": f"e{i}"}) + "\n")
    seen = []
    q = (
        informer_stream(spark, src)
        .writeStream.foreachBatch(
            lambda df, _bid: seen.append(
                (df.rdd.getNumPartitions(), df.count())
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert seen == [(cores, 2048 * cores)]


def test_repack_splits_large_and_packs_small_ranges(tmp_path, monkeypatch):
    """Task sizing: ranges above the _ROWS_PER_PARTITION target split into
    chunks (initial-LIST parallelism), tiny per-file ranges pack into
    one task (worker-startup amortization); the row stream is unchanged
    and replaying the same offsets yields the same groups."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    # one big file (25 rows) + five tiny files (2 rows each)
    with open(os.path.join(src, "big.json"), "w") as f:
        for i in range(25):
            f.write(json.dumps({"uid": f"b{i}"}) + "\n")
    for j in range(5):
        with open(os.path.join(src, f"t{j}.json"), "w") as f:
            for i in range(2):
                f.write(json.dumps({"uid": f"t{j}-{i}"}) + "\n")

    monkeypatch.setattr(informer, "_ROWS_PER_PARTITION", 10)
    r = InformerStreamReader(_schema_for("event"), {"path": src})
    start, end = r.initialOffset(), r.latestOffset()
    parts = r.partitions(start, end)
    sizes = []
    for p in parts:
        slices = p.slices if hasattr(p, "slices") else [p]
        sizes.append(sum(s.end - s.start for s in slices))
    # 25-row file -> 10+10+5; the 5-row remainder packs with tiny files
    # up to the 10-row target; every group is <= target
    assert all(s <= 10 for s in sizes)
    assert sum(sizes) == 35
    assert len(parts) < 8  # fewer tasks than the 6 raw files + splits

    rows = sorted(row[0] for row in _rows(r, parts))
    want = sorted(
        [f"b{i}" for i in range(25)]
        + [f"t{j}-{i}" for j in range(5) for i in range(2)]
    )
    assert rows == want

    # determinism (checkpoint-replay contract)
    again = r.partitions(start, end)
    def shape(ps):
        out = []
        for p in ps:
            slices = p.slices if hasattr(p, "slices") else [p]
            out.append([(s.path, s.start, s.end) for s in slices])
        return out
    assert shape(parts) == shape(again)


def test_raw_kind_passes_map_values_untouched():
    """Map/struct fields (the service schema) must stay native — Spark's
    row-path converter asserts dicts for map columns, so the string
    coercion must never apply to them."""
    from k8stream_spark.sources.informer import _coerce

    assert _coerce({"app": "web"}, "raw") == {"app": "web"}
    assert _coerce(None, "raw") is None


def test_fast_path_identity_and_fallback(tmp_path):
    """The vectorized pa.json range parse must deliver EXACTLY the row
    path's tuples on clean spools (beyond one offset stride, so byte
    seek + end-byte slicing both engage), and must decline (None ->
    row-path fallback) on content it cannot reproduce bit-for-bit:
    malformed lines and epoch-number timestamps."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(2500):
            f.write(
                json.dumps(
                    {
                        "uid": f"e{i}",
                        "creation_ts": "2026-08-15T01:02:%02d.5" % (i % 60),
                        "reason": "click",
                    }
                )
                + "\n"
            )

    r = _reader(src)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    rows_fast = _rows(r, parts)
    assert len(rows_fast) == 2500

    from k8stream_spark.sources.informer import InformerStreamReader

    orig = InformerStreamReader._read_range_fast
    try:
        InformerStreamReader._read_range_fast = lambda self, p: None
        rows_slow = _rows(r, parts)
    finally:
        InformerStreamReader._read_range_fast = orig
    assert rows_fast == rows_slow

    # malformed line -> the fast parse declines the range entirely
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(json.dumps({"uid": "ok1"}) + "\n")
        f.write("not json\n")
        f.write(json.dumps({"uid": "ok2"}) + "\n")
    r2 = _reader(src)
    parts2 = [
        p
        for p in r2.partitions(r2.initialOffset(), r2.latestOffset())
    ]
    bad = [
        p
        for p in parts2
        if getattr(p, "path", "").endswith("b.json")
        or any(
            s.path.endswith("b.json")
            for s in getattr(p, "slices", [])
        )
    ]
    assert bad
    for p in bad:
        for s in getattr(p, "slices", [p]):
            if s.path.endswith("b.json"):
                assert r2._read_range_fast(s) is None
    # ...and the row path still delivers the two good rows permissively
    uids = {row[0] for row in _rows(r2, parts2)}
    assert {"ok1", "ok2"} <= uids

    # epoch-number timestamp -> fast declines, _coerce handles it
    src3 = str(tmp_path / "spool3")
    os.makedirs(src3)
    with open(os.path.join(src3, "c.json"), "w") as f:
        f.write(json.dumps({"uid": "t1", "creation_ts": 1755219723}) + "\n")
    r3 = _reader(src3)
    parts3 = r3.partitions(r3.initialOffset(), r3.latestOffset())
    for p in parts3:
        for s in getattr(p, "slices", [p]):
            assert r3._read_range_fast(s) is None
    rows3 = _rows(r3, parts3)
    assert rows3[0][0] == "t1" and rows3[0][1].year == 2025


def test_checkpoint_restart_replay_equivalence(tmp_path):
    """Exactly-once-per-offset-RANGE across a process restart with
    mid-stream spool mutation and an interleaved resync — the informer
    restart analogue of reference main.go:91-94 (r10 task 7).

    The contract under test: delivery is a pure function of the offset
    pair.  A fresh reader instance (checkpoint restart) given the same
    (start, end) offsets must deliver byte-identical rows as the
    original instance would have — regardless of files appended after
    ``end`` was taken and regardless of resync generations that
    elapsed across the restart — and re-reading the same partitions
    (Spark task retry) is idempotent.  Resync ranges re-deliver full
    state by design (at-least-once, resolved by D1/D2 dedup); what
    must NOT happen is a watch row silently dropped or double-counted
    WITHIN one offset range after a restart."""
    src = str(tmp_path / "spool")
    os.makedirs(src)

    def w(fname: str, uids: list[str]) -> None:
        with open(os.path.join(src, fname), "a") as f:
            for u in uids:
                f.write(json.dumps({"uid": u}) + "\n")

    w("a.json", ["e1", "e2"])
    r1 = _reader(src, resync=60)  # long interval: no resync inside legs
    o0 = r1.initialOffset()
    o1 = r1.latestOffset()
    got1 = [row[0] for row in _rows(r1, r1.partitions(o0, o1))]
    assert got1 == ["e1", "e2"]  # LIST leg, committed at o1

    # Spool mutates: append to an existing file AND add a new one,
    # then take o2 — the micro-batch in flight when the "crash" hits.
    w("a.json", ["e3"])
    w("b.json", ["e4"])
    o2 = r1.latestOffset()
    live = r1.partitions(o1, o2)
    got2_live = [row[0] for row in _rows(r1, live)]
    assert got2_live == ["e3", "e4"]

    def slice_keys(parts):
        out = []
        for p in parts:
            slices = p.slices if hasattr(p, "slices") else [p]
            out += [(s.path, s.start, s.end) for s in slices]
        return out

    # ---- restart: fresh instance, spool mutated again AFTER o2 ----
    w("b.json", ["e5"])
    r2 = _reader(src, resync=60)
    replay = r2.partitions(o1, o2)
    # Same offsets -> same partition slices (checkpoint replay shape)…
    assert slice_keys(live) == slice_keys(replay)
    # …and same rows: e5 (past o2) must NOT leak in, e3/e4 must not
    # drop out, even though this instance never saw o1 being taken.
    got2_replay = [row[0] for row in _rows(r2, replay)]
    assert got2_replay == got2_live
    # Task retry: re-reading the same partitions is idempotent.
    assert [row[0] for row in _rows(r2, replay)] == got2_replay

    # The post-restart WATCH leg picks up exactly the post-o2 rows.
    o3 = r2.latestOffset()
    got3 = [row[0] for row in _rows(r2, r2.partitions(o2, o3))]
    assert got3 == ["e5"]
    # Union over the three ranges = every event exactly once.
    assert got1 + got2_replay + got3 == ["e1", "e2", "e3", "e4", "e5"]


def test_restart_replay_equivalence_across_resync(tmp_path):
    """Same restart scenario with a resync interleaved: generations are
    wall-clock-derived, so the fresh instance's re-list range must
    deliver the FULL current state (at-least-once resync contract)
    while the committed pre-restart range still replays identically."""
    src = str(tmp_path / "spool")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(json.dumps({"uid": "e1"}) + "\n")

    r1 = _reader(src, resync=1)
    o0 = r1.initialOffset()
    o1 = r1.latestOffset()
    got1 = [row[0] for row in _rows(r1, r1.partitions(o0, o1))]
    assert set(got1) == {"e1"}

    # Mutation + a full resync interval elapse across the "crash".
    with open(os.path.join(src, "a.json"), "a") as f:
        f.write(json.dumps({"uid": "e2"}) + "\n")
    time.sleep(1.1)

    r2 = _reader(src, resync=1)
    # Committed range replays identically on the fresh instance even
    # though generations have advanced since o1 was taken.
    assert [row[0] for row in _rows(r2, r2.partitions(o0, o1))] == got1
    o2 = r2.latestOffset()
    assert o2["resync_gen"] > o1["resync_gen"]
    relist = [row[0] for row in _rows(r2, r2.partitions(o1, o2))]
    # Resync range: the WATCH delta (e2, appended past o1) plus the
    # full-state re-list, which includes BOTH rows again — the
    # informer OnUpdate refire is at-least-once by contract (D1/D2
    # resolve duplicates downstream).  What must hold: current state
    # is covered, and nothing outside it appears.
    assert set(relist) == {"e1", "e2"}
    # The watch row arrives at most once per generation + once as the
    # delta — bounded duplication, never loss.
    assert 1 <= relist.count("e2") <= 1 + (o2["resync_gen"] - o1["resync_gen"])
