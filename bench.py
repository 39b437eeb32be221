"""Benchmark harness: runs ALL registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Three tiers:

* HEADLINE (``BENCH_QUERIES``): the scale-path queries the engine would
  actually run at 100 TB — reference-parity E2E, heavy OLAP joins/aggs,
  windows, and the LLM-pipeline operators in their bucketed/LSH forms.
  min-of-$SPARK_GRAFT_BENCH_REPS (default 3); the headline ``value`` is
  this tier's total, so run-over-run movement tracks the queries that
  matter at scale.
* BASELINE (``BASELINE_QUERIES``): the declared exact O(n²) oracle
  anchors (brute-force top-k, the exact mutual-kNN graph and its CC
  composition).  Timed the same way but totaled SEPARATELY — their
  quadratic cost is a correctness fixture, not an engine property, and
  folding them into the headline hides scale-path movement behind ~7 s
  of deliberate quadratic work.
* TIER 2: every other registered query, 1 rep each, so NO query ships
  performance-unmeasured.  Full per-query timings for all tiers go to
  stderr and to ``BENCH_FULL_latest.json`` next to this file; the
  stdout line carries only the tier totals plus a compact regression
  list (tier-2 queries >2x their committed BENCH_FULL_latest.json
  time) — an oversized stdout line is cut by a consumer that keeps
  only the output's tail.

Noise control: headline/baseline reps report the MIN — warm repeats
converge tightly while single-shot timings at sf0.1 swing +-30% on
JIT/footer-cache luck.  The cache is cleared between repeats so
persisted intermediates (LSH signatures, IVF centroids) are re-earned
every run, never carried into the min.

Drift control: a fixed CPU-bound calibration canary (codegen
hash+xor over ``spark.range``, min-of-3 at session start AND end)
ships in every BENCH json; the tier-2 regression flag divides out
canary_now/canary_prev so a slower/faster BOX does not masquerade as a
code regression.

Confirm-before-flag: canary normalization fixes box-level drift but
not per-query 1-rep noise — sub-second Python-worker queries swing
+-2-3x on scheduler luck (same-code 2.7x on ``mm_blob_meta_pandas``).  So
any tier-2 query whose first-pass time would flag is RE-TIMED min-of-3
in the same session; it ships in ``tier2_flagged_vs_prev`` only if the
confirmed min still exceeds the threshold, and the re-time mins ship
in ``tier2_flag_confirm`` either way so the adjudication trail is in
the artifact, not a human's scrollback.

Re-baseline rule: when the session canary drifts >10% from the
committed reference's ``canary_sec`` (``canary_ratio_vs_prev`` outside
[0.9, 1.1]), re-run the full bench and COMMIT the fresh
``BENCH_FULL_latest.json`` — a reference older than the box's drift
budget costs more bisecting than it saves (BENCH_NOISE.md).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from k8stream_spark.session import get_spark  # noqa: E402

#: Declared exact-baseline twins: O(n²) by design, kept as oracle/recall
#: anchors; each has a registered bucketed scale twin in the headline.
BASELINE_QUERIES = (
    "emb_cosine_topk",        # brute-force; scale twins: _lsh / _ivf
    "emb_cosine_near_dup",    # all-pairs; scale twin: _lsh
    "emb_knn_graph_mutual",   # diagonal self-join; scale twin: _lsh
    "emb_semantic_clusters",  # CC over the exact graph; twin: _lsh
)

BENCH_QUERIES = (
    # reference-parity hot path
    "p5_eligibility",
    "p6_l9event_projection",
    "d1_dedup_first_seen",
    "j1_enrich_involved_object",
    "j4_label_selector_join",
    # OLAP layer
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_top_orders_per_customer",
    "events_hourly_type_counts",
    "events_sessionize",
    # LLM-pipeline layer
    "text_term_stats",
    "text_rolling_fingerprint",
    "docs_dedup_minhash_lsh",
    "emb_cosine_near_dup_lsh",
    "mm_blob_meta",
    # events / documents / embeddings surface
    "events_funnel",
    "events_asof_last_purchase",
    "docs_dedup_clusters",
    "docs_duplicate_spans",
    "docs_pack_chunks",
    "emb_class_centroids",
    "emb_cosine_topk_ivf",
    # boilerplate removal and semantic dedup
    "docs_remove_boilerplate",
    "docs_semantic_dedup",
    # full TPC-H layer
    "q4_order_priority_check",
    "q10_returned_items",
    "q12_priority_by_flag",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q19_discounted_revenue",
    "q22_global_sales_opportunity",
    "q2_min_cost_supplier",
    "q11_important_part_value",
    "q16_supplier_count",
    "q20_excess_suppliers",
    "q21_waiting_suppliers",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_type_profit",
    # row-multiplying / multi-shuffle ops (the pure single-scan ones —
    # gopher filters, length histogram — track q6-like shapes already in
    # the set)
    "docs_chunk_overlap",
    "docs_dsir_importance",
    "events_retention_cohorts",
    "docs_shard_manifest",
    "emb_pq_adc_topk",
    "emb_ivf_pq_topk",
    # retrieval layer (corpus-scale explode + fused top-n lists)
    "docs_bm25_topk",
    "docs_hybrid_rrf",
    # continuous-ingestion dedup (new-batch × reference-corpus LSH)
    "docs_dedup_incremental",
    # binned range join, salted distinct, CUBE report
    "events_window_range_counts",
    "events_salted_distinct_counts",
    "docs_source_lang_cube",
    # tokenizer-training + LM-scoring additions
    "text_bpe_merge_pairs",
    "text_bigram_lm_score",
    # span REMOVAL (the transform half of docs_duplicate_spans)
    "docs_remove_duplicate_spans",
    # the composed end-to-end curation decision (CC pass + flag joins)
    "docs_curation_pipeline",
    # the LSH graph + its CC composition (the 100 TB cluster
    # pipeline, replacing the exact twins that moved to the baseline
    # tier), and the containment inverted-index join
    "emb_knn_graph_mutual_lsh",
    "emb_semantic_clusters_lsh",
    "docs_containment_pairs",
)


#: Fixed CPU-bound calibration canary: whole-stage-codegen hash+xor
#: over a synthetic range — no files, no cache, no shuffle beyond the
#: single-row final agg — so its runtime tracks the box's effective
#: CPU throughput (frequency, steal, contention) and nothing about the
#: repo's own code.  bit_xor never overflows under ANSI mode.
CANARY_ROWS = 2_000_000_000


def spread_flags(
    medians: dict[str, float], maxes: dict[str, float], factor: float = 2.0
) -> list[str]:
    """Queries whose within-run max/MEDIAN rep spread exceeds
    ``factor`` — the bimodal-slow-mode detector.
    max/median rather than max/min: the first rep legitimately carries
    codegen compile (healthy max/min reaches 3x on sub-second queries)
    but the median of 3+ reps is past JIT, so a max far above it is a
    real slow mode.  Calibration at sf0.1: every healthy headline
    query measured <= 1.80, the two known pathologies 2.49 and 8.37.
    Pure so the seeded unit test can drive it without a Spark
    session."""
    return sorted(
        n
        for n, t in medians.items()
        if t > 0.0 and maxes.get(n, t) / t > factor
    )


def _canary(spark) -> float:
    """min-of-3 canary seconds after one untimed codegen-warm run."""

    def once() -> float:
        t0 = time.time()
        spark.range(0, CANARY_ROWS, 1, 32).selectExpr(
            "bit_xor(xxhash64(id, 42)) as s"
        ).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    once()  # untimed: codegen compile dominates the first run (~3 s)
    return round(min(once() for _ in range(3)), 3)


def _newest_committed_times() -> tuple[dict[str, float], float]:
    """Per-query timings + canary serving as the regression reference.

    Primary source: the COMMITTED ``BENCH_FULL_latest.json`` via
    ``git show HEAD:`` — bench.py overwrites the working-tree copy at
    the end of every run, so a second run would otherwise compare
    against the immediately-preceding run of the same code instead of
    the previous committed run.  Falls back to the on-disk file (fresh
    clone / no git); with neither, there is no reference.

    Returns ``(times, canary_sec)``; canary_sec is 0.0 when the
    reference predates the canary (flag logic then skips
    normalization)."""
    here = os.path.dirname(os.path.abspath(__file__))
    full = None
    try:
        blob = subprocess.run(
            ["git", "show", "HEAD:BENCH_FULL_latest.json"],
            cwd=here,
            capture_output=True,
            timeout=30,
        )
        if blob.returncode == 0:
            full = json.loads(blob.stdout.decode("utf-8"))
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    if full is None:
        try:
            with open(
                os.path.join(here, "BENCH_FULL_latest.json"),
                encoding="utf-8",
            ) as fh:
                full = json.load(fh)
        except (OSError, ValueError):
            full = None
    if isinstance(full, dict):
        ref: dict[str, float] = {}
        try:
            for tier in ("tier2", "headline", "baseline"):
                for k, v in (full.get(tier) or {}).items():
                    ref[k] = float(v)
        except (ValueError, TypeError):
            ref = {}
        if ref:
            canary = 0.0
            try:
                canary = float(full.get("canary_sec") or 0.0)
            except (ValueError, TypeError):
                pass
            return ref, canary
    return {}, 0.0

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0
    spark = get_spark("bench")

    qs = entrymod.queries()
    # Warm the JVM (codegen, parquet footer cache, broadcast machinery)
    # with one cheap untimed scan so the first timed query measures the
    # query, not session startup.
    qs["f5_epoch_seconds"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    canary_start = _canary(spark)

    def run_once(name: str) -> float:
        t0 = time.time()
        # noop write materializes EVERY output column (count() would
        # let Catalyst prune projection-only work down to a bare scan)
        # without driver-collect costs skewing the number.
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        # Persisted intermediates (LSH signatures, IVF centroids) must
        # be re-earned by every repeat, and one query's cache must not
        # occupy storage memory during the next query.
        spark.catalog.clearCache()
        # Untimed housekeeping between reps: clearCache() cannot free
        # broadcast blocks, shuffle files, or localCheckpoint RDDs —
        # the ContextCleaner only reaps those after a driver GC
        # notices the references died.  Forcing one here keeps each
        # rep from inheriting the previous reps'/queries'
        # executor-side litter (observed: the same query 6 s isolated,
        # 30-60 s late in a long session; the iterative CC query alone
        # leaves ~45 dead localCheckpoint RDDs per rep).
        spark.sparkContext._jvm.System.gc()
        return dt

    def run_tier(
        names, n_reps, heavy_extra_rep=False, min3=()
    ) -> tuple[dict, dict, dict, dict, float]:
        timings: dict[str, float] = {}
        medians: dict[str, float] = {}
        maxes: dict[str, float] = {}
        reps_used: dict[str, int] = {}
        total = 0.0
        for name in names:
            reps_here = 3 if name in min3 else n_reps
            samples = [run_once(name) for _ in range(reps_here)]
            # Tier-2 de-noising: a single-shot
            # timing over ~2 s is dominated by first-touch costs
            # (codegen, footer cache, broadcast build) — e.g.
            # a1_service_pod_map read 7.31 s single-shot while its
            # composed parts run ~4 s warm — so heavy entries earn a
            # second rep and report the min, like the headline tier.
            if heavy_extra_rep and min(samples) > 2.0:
                samples.append(run_once(name))
            samples.sort()
            timings[name] = round(samples[0], 3)
            # Spread disclosed alongside the min so a regression that
            # only widens the tail (or a min hiding a flaky rep) stays
            # visible in run-over-run diffs.
            medians[name] = round(samples[len(samples) // 2], 3)
            maxes[name] = round(samples[-1], 3)
            reps_used[name] = len(samples)
            total += timings[name]
        return timings, medians, maxes, reps_used, round(total, 3)

    timings, medians, maxes, _, total = run_tier(BENCH_QUERIES, reps)
    b_timings, b_medians, b_maxes, _, b_total = run_tier(
        BASELINE_QUERIES, reps
    )
    tier2_names = [
        n
        for n in qs
        if n not in BENCH_QUERIES and n not in BASELINE_QUERIES
    ]
    # Known high-variance tier-2 set (BENCH_NOISE.md): sub-second
    # Python-worker (Arrow batch) queries swing up to 2.7x same-code on
    # worker spin-up luck — a 1-rep min is not a measurement there.
    # Promote them to min-of-3 so run-over-run trend reading does not
    # flap; tier2_reps in the artifact shows it.
    high_variance = {n for n in tier2_names if n.startswith("mm_")}
    t2_timings, _, t2_maxes, t2_reps, t2_total = run_tier(
        tier2_names, 1, heavy_extra_rep=True, min3=high_variance
    )

    canary_end = _canary(spark)
    canary = round((canary_start + canary_end) / 2.0, 3)

    # Within-run spread flag: slow modes can be bimodal WITHIN one run
    # (emb_semantic_clusters_lsh med 8.15 / max 20.28,
    # docs_containment_pairs med 2.54 / max 21.27) — the min looks
    # healthy and only headline_max shows them.  Any headline/baseline
    # query whose max/median exceeds 2x ships in
    # ``headline_flagged_spread`` so the artifact itself raises the flag.
    flagged_spread = spread_flags(
        {**medians, **b_medians}, {**maxes, **b_maxes}
    )

    # Tier-2 regressions vs the committed reference, NORMALIZED by the
    # calibration-canary ratio: the raw comparison fires on
    # environmental drift (a checkout of old code reproduces the
    # "regressed" times).  The canary measures THIS box's CPU
    # throughput at run time; dividing out canary_now/canary_prev
    # makes the 2x threshold compare code against code, not box
    # against box.  Ratio clamped to [1/3, 3] so a broken canary
    # (e.g. a one-off scheduler stall during both canary runs) can
    # shift the threshold but never disable the flag outright.
    prev, prev_canary = _newest_committed_times()
    ratio = 1.0
    if prev_canary > 0.0 and canary > 0.0:
        ratio = max(1.0 / 3.0, min(3.0, canary / prev_canary))
    candidates = sorted(
        n
        for n, t in t2_timings.items()
        if n in prev and prev[n] > 0.2 and t > 2.0 * prev[n] * ratio
    )
    # Confirm-before-flag: a 1-rep sub-second timing cannot support a
    # 2x verdict (same-code 2.7x swings are observed).
    # Re-time each candidate min-of-3 NOW, same session; only a
    # reproducible slowdown ships as a flag.  The re-time also
    # replaces the query's reported time (min aggregation — more
    # samples, tighter min).
    flag_confirm: dict[str, float] = {}
    flagged = []
    for n in candidates:
        confirm_times = [run_once(n) for _ in range(3)]
        best = round(min(confirm_times), 3)
        worst = round(max(confirm_times), 3)
        flag_confirm[n] = best
        # Always record the extra reps (and refresh the max) — the 3
        # confirm runs are real samples whether or not the min
        # improved.  Note: confirm re-times run AFTER canary_end,
        # outside the window the canary ratio normalizes (see "agg").
        t2_reps[n] = t2_reps.get(n, 1) + 3
        t2_maxes[n] = max(t2_maxes.get(n, worst), worst)
        if best < t2_timings[n]:
            t2_timings[n] = best
        if best > 2.0 * prev[n] * ratio:
            flagged.append(n)
    t2_total = round(sum(t2_timings.values()), 3)

    full = {
        "metric": "bench_full",
        "sf": sf,
        "reps": reps,
        "agg": (
            "min (tier2: min-of-2 over 2s, else single shot;"
            " flag candidates re-timed min-of-3 post-canary)"
        ),
        "loadavg": list(os.getloadavg()),
        "canary_sec": canary,
        "canary_start_sec": canary_start,
        "canary_end_sec": canary_end,
        "canary_rows": CANARY_ROWS,
        "canary_ratio_vs_prev": round(ratio, 4),
        "headline": timings,
        "headline_median": medians,
        "headline_max": maxes,
        "baseline": b_timings,
        "baseline_median": b_medians,
        "baseline_max": b_maxes,
        "tier2": t2_timings,
        "tier2_max": t2_maxes,
        "tier2_reps": t2_reps,
        "tier2_flag_confirm": flag_confirm,
        "tier2_flagged_vs_prev": flagged,
        "headline_flagged_spread": flagged_spread,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(
        os.path.join(here, "BENCH_FULL_latest.json"), "w", encoding="utf-8"
    ) as fh:
        json.dump(full, fh, indent=1, sort_keys=True)
    # Full detail also to STDERR; the driver-facing headline JSON must
    # be the LAST stdout line and stay compact — a consumer that keeps
    # only the last ~2000 stdout chars cuts a full 61-entry headline
    # map mid-JSON, and the headline number parses as null.  The
    # stdout "queries" map is therefore BOUNDED to the 12 slowest
    # headline entries (~400 bytes); complete per-query maps for every
    # tier live in BENCH_FULL_latest.json and on stderr.
    print(json.dumps(full), file=sys.stderr)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:12]
        ),
        "queries_note": "12 slowest of %d; full maps in BENCH_FULL_latest.json" % len(timings),
        "sf": sf,
        "reps": reps,
        "agg": "min",
        "canary_sec": canary,
        "headline_n": len(timings),
        "baseline_total": b_total,
        "tier2_total": t2_total,
        "tier2_n": len(tier2_names),
        "tier2_flagged_vs_prev": flagged[:8],
    }
    # Shrink to fit a ~2000-char stdout tail instead of asserting after
    # the whole run (an assert here would lose the run's number over a
    # long query name, and -O strips it).
    # Drop order: flagged list first, then the slowest-queries map.
    line = json.dumps(payload)
    while len(line) >= 1500 and payload["tier2_flagged_vs_prev"]:
        payload["tier2_flagged_vs_prev"] = payload[
            "tier2_flagged_vs_prev"
        ][:-1]
        line = json.dumps(payload)
    while len(line) >= 1500 and payload["queries"]:
        payload["queries"].pop(next(reversed(payload["queries"])))
        # keep the self-description honest after shrinking
        payload["queries_note"] = "%d slowest of %d; full maps in BENCH_FULL_latest.json" % (
            len(payload["queries"]),
            len(timings),
        )
        line = json.dumps(payload)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
