"""Custom stateful streaming operators (``applyInPandasWithState``) for
the LLM-data layer: each keeps a small per-key state in the RocksDB state
store (session.py) and is the stream form of a batch operator.

  * ``anomaly_stats_stateful`` — running (n, Σv, Σv²) per group, the
    stream form of ``analytics.events.anomaly_zscore``;
  * ``histogram_bins_stateful`` — per-(group, bin) counts, the stream
    form of ``analytics.events.value_quantiles_sketch``;
  * ``content_change_gate_stateful`` — per-key content hash with a
    processing-time TTL, the stream form of
    ``analytics.dedup.snapshot_delta``;
  * ``quota_gate_stateful`` — per-source admitted count, the stream form
    of ``analytics.splits.source_quota_cap``.

The reference pipeline's own dedup stages run elsewhere: D1/D3 (the
buntdb UID mark) is ``ops.dedup.dedup_streaming``'s event-time watermark
and D2 is ``streaming.pipeline.transform_services``.

Ordering: rows of one key are folded in the order the grouped iterator
yields them, which ``applyInPandasWithState`` pins only WITHIN a shuffled
partition's frames; two rows of one key that arrive in one micro-batch
from different source partitions have no pinned order.  Pre-sort by a
monotonic source offset upstream where a total order is required.

Deployment note for ProcessingTimeTimeout operators: the engine
schedules no-data micro-batches to service pending timers, so a
``trigger(availableNow=True)`` run never self-terminates.  Batch-style
harnesses set ``spark.sql.streaming.noDataMicroBatches.enabled = false``
(safe: the data path re-checks deadlines itself, the timer path is only
state GC) or drain and stop; a continuous deployment is unaffected.
"""

from __future__ import annotations

import hashlib
import time
from typing import Any, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from k8stream_spark.ops.dedup import DEDUP_TTL_SECONDS


def anomaly_stats_stateful(
    df: DataFrame,
    value_col: str = "value",
    by: str = "event_type",
) -> DataFrame:
    """Streaming per-group moment state for z-score anomaly detection —
    the deployment form of ``analytics.events.anomaly_zscore``: maintain
    (n, Σv, Σv²) per group as keyed state so each micro-batch can score
    incoming events against the group's running mean/variance without
    rescanning history.

    Exact batch/stream symmetry: values are quantized ONCE to milli units
    (floor(v·1000 + 0.5), a stateless codegen projection), and the
    state carries int64 (n, Σ_milli, Σ_milli²) — integer addition is
    order-free, so after any stream prefix the state equals the batch
    fold over the same prefix bit-for-bit, which the pytest pins.
    Milli quantization keeps Σv² in range: |v_milli| ≤ ~5·10⁵ on the
    events domain → per-row square ≤ 2.5·10¹¹, leaving headroom for
    ~10⁷ rows per group per key; at larger per-group volumes shard the
    key (the salted-counts recipe) and merge shards downstream.

    Update-mode emissions carry the group's refreshed stats row; the
    z-score itself is a stateless downstream join
    (mean = Σ/n, var = Σ²/n − mean², the batch operator's guarded
    variance shape).  State per group is three longs — group-count
    sized, the bounded-state argument every sketch here shares.
    """
    from pyspark.sql import functions as F

    # Null values are dropped BEFORE the state function (matching
    # histogram_bins_stateful): a null v_milli arrives as NaN in the
    # float64 pandas column and int(vals.sum()) raises, killing the
    # whole streaming query on a single null event.  Documented
    # divergence: here n counts only non-null VALUES (the moment
    # denominator over observed data), while the batch operator's
    # denominator is count(1) over rows — nulls included — with a
    # null-skipping sum.  The streaming form is the statistically
    # coherent one; consumers matching the batch operator bit-for-bit
    # must pre-filter nulls on the batch side too.
    quant = df.where(F.col(value_col).isNotNull()).select(
        F.col(by).alias("grp"),
        F.floor(
            F.col(value_col).cast("double") * F.lit(1000.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("v_milli"),
    )

    def fn(
        _key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        add_n = 0
        add_s = 0
        add_q = 0
        for pdf in pdfs:
            vals = pdf["v_milli"].to_numpy()
            add_n += len(vals)
            add_s += int(vals.sum())
            add_q += int((vals * vals).sum())
        n, s, q = state.get if state.exists else (0, 0, 0)
        n, s, q = n + add_n, s + add_s, q + add_q
        state.update((n, s, q))
        yield pd.DataFrame(
            {
                "grp": [_key[0]],
                "n": [n],
                "sum_milli": [s],
                "sumsq_milli2": [q],
            }
        )

    return quant.groupBy("grp").applyInPandasWithState(
        fn,
        outputStructType=(
            "grp string, n long, sum_milli long, sumsq_milli2 long"
        ),
        stateStructType="n long, s long, q long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def histogram_bins_stateful(
    df: DataFrame,
    value_col: str = "value",
    by: str = "event_type",
    bin_width: float = 0.01,
) -> DataFrame:
    """Streaming equi-width histogram: maintain the per-(group, bin)
    counter table as keyed state over an unbounded value stream — the
    deployment form of ``analytics.events.value_quantiles_sketch``,
    whose docstring's bounded-state argument this operator is at run
    time: state = one long per OCCUPIED bin (≤ value-range/width per
    group), never the values.

    Batch/stream symmetry: the bin id is the identical IEEE ``floor(v / bin_width)`` projection
    the batch sketch computes, and counts are integer adds, so after
    any stream prefix the state table equals the batch sketch's
    ``counts`` stage over the same prefix — pinned by pytest.
    Update-mode emissions carry each touched bin's refreshed total; a
    downstream reader re-derives any quantile with the batch tail (the
    per-group cumulative scan over ≤ range/width rows).
    """
    from pyspark.sql import functions as F

    binned = df.where(F.col(value_col).isNotNull()).select(
        F.col(by).alias("grp"),
        F.floor(F.col(value_col).cast("double") / F.lit(float(bin_width)))
        .cast("bigint")
        .alias("bin"),
    )

    def fn(
        _key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        add = 0
        for pdf in pdfs:
            add += len(pdf)
        total = (state.get[0] if state.exists else 0) + add
        state.update((total,))
        yield pd.DataFrame(
            {
                "grp": [_key[0]],
                "bin": [_key[1]],
                "bin_count": [total],
            }
        )

    return binned.groupBy("grp", "bin").applyInPandasWithState(
        fn,
        outputStructType="grp string, bin long, bin_count long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def content_change_gate_stateful(
    df: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    ttl_seconds: int = DEDUP_TTL_SECONDS,
) -> DataFrame:
    """Streaming CDC gate — the stream twin of
    ``analytics.dedup.snapshot_delta``: per key, keep the md5 of the
    last content seen and emit only rows whose content actually moved,
    tagged ``status`` = ``added`` (first sight) or ``changed`` (hash
    differs).  Unchanged re-crawls are suppressed, so downstream
    re-embedding / re-dedup / re-tokenization work is churn-bounded —
    at 100 TB the ~99% unchanged fraction never leaves this operator.

    Contract differences from the batch twin, both inherent to
    streams and documented rather than papered over:

      * ``removed`` does not exist here — absence is not an event.  A
        pipeline needing removals runs the batch ``snapshot_delta``
        between snapshot manifests.
      * State carries (md5, deadline); the deadline re-arms on every
        RECEIPT — changed or unchanged — so a hot-but-stable key
        (re-crawled regularly with identical content) stays resident
        and keeps suppressing, never spuriously re-emitting ``added``.
        Only a key that receives NO rows at all for ``ttl_seconds``
        is evicted, so state is bounded by the live traffic set, not
        by all keys ever seen.  A doc re-crawled after eviction
        counts as ``added`` again.

    The hash is computed INSIDE the pandas fn (hashlib.md5 over the
    utf-8 text), matching F.md5/DuckDB md5 byte-for-byte — the
    batch/stream symmetry test feeds both twins the same two
    snapshots and asserts identical add/change decisions.  Multiple
    versions of one key inside a micro-batch are folded serially in
    iterator order (the module's ordering note).  The grouping shuffle
    carries (key, text) rows once; state per key is one 32-char hash.
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("status", T.StringType())]
    )
    cols = [f.name for f in df.schema.fields]
    ttl_ms = ttl_seconds * 1000

    def fn(
        _key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        now_ms = int(time.time() * 1000)
        last: str | None = None
        if state.exists:
            stored, deadline_ms = state.get
            if now_ms < deadline_ms:
                last = stored
        saw_rows = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            saw_rows = True
            keep, status = [], []
            for t in pdf[text_col]:
                h = hashlib.md5(
                    ("" if t is None else str(t)).encode("utf-8")
                ).hexdigest()
                if last is None:
                    keep.append(True)
                    status.append("added")
                    last = h
                elif h != last:
                    keep.append(True)
                    status.append("changed")
                    last = h
                else:
                    keep.append(False)
                    status.append("")
            out = pdf.loc[keep, cols].copy()
            if len(out):
                out["status"] = [s for s in status if s]
                yield out
        if saw_rows:
            # Re-arm on every receipt (emit or suppressed-unchanged):
            # a hot-but-stable key must stay resident, else its next
            # unchanged crawl would spuriously re-emit as "added".
            state.update((last, now_ms + ttl_ms))
            state.setTimeoutDuration(ttl_ms)
        elif state.exists:
            _, deadline_ms = state.get
            state.setTimeoutDuration(max(1, deadline_ms - now_ms))

    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="content_hash string, deadline_ms long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def quota_gate_stateful(
    df: DataFrame,
    quota: int = 50,
    key: str = "source",
) -> DataFrame:
    """Streaming per-source admission cap — the enforcement twin of
    ``analytics.splits.source_quota_cap``.  Emits each admitted row
    with its ``admit_rank`` (1..quota per key) and silently drops
    everything past the cap.

    Contract DIVERGENCE from the batch twin, pinned here and in the
    symmetry test: the batch cap keeps the hash-least ``quota`` rows —
    an order-free, revocable membership a one-pass stream cannot
    provide (admitting row 51 would require un-emitting an earlier
    one).  The stream admits FIRST-COME in arrival order, which is the
    correct rate-limiting semantics for live ingestion; what the two
    twins share exactly — and what the test asserts — is the admitted
    COUNT per source, min(quota, n_s).  A pipeline needing the batch's
    deterministic membership runs the batch cap on the collected
    window instead.

    State per key is ONE long (admitted count) under NoTimeout —
    |sources| longs total, the same bounded-state class as the CMS
    counter table; the grouping shuffle is the one any keyed cap pays.
    Within-partition arrival order follows the grouped iterator (the
    module's ordering note).
    """
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("admit_rank", T.LongType())]
    )
    cols = [f.name for f in df.schema.fields]

    def fn(
        _key: Any,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if not len(pdf) or n >= quota:
                continue
            room = quota - n
            take = min(room, len(pdf))
            if take > 0:
                out = pdf.iloc[:take][cols].copy()
                out["admit_rank"] = range(n + 1, n + take + 1)
                n += take
                yield out
        state.update((n,))

    return df.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
